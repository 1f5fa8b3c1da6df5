package graft

import org.apache.spark.sql.functions._

import graft.operators.BoxMerge
import graft.operators.BoxMerge.{Box, Cluster}
import graft.plans.MergeBoxesApi

class MergeBoxesExecSpec extends SparkSpec {

  /** Driver-side reference: collect the boxes, group by key, sort each
    * group canonically and run the clustering kernel. */
  private def reference(df: org.apache.spark.sql.DataFrame): Seq[Cluster] = {
    import spark.implicits._
    df.select("key", "x1", "y1", "x2", "y2", "label", "chip").as[Box].collect().toSeq
      .groupBy(_.key).toSeq.flatMap { case (_, bs) =>
        BoxMerge.clusterGroup(bs.sortBy(b => (b.x1, b.y1, b.x2, b.y2, b.label, b.chip)), 5)
      }
      .sortBy(c => (c.key, c.cluster_id))
  }

  private def native(df: org.apache.spark.sql.DataFrame): Seq[Cluster] = {
    import spark.implicits._
    MergeBoxesApi.mergeBoxes(df).as[Cluster].orderBy("key", "cluster_id").collect().toSeq
  }

  private def feed = {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    (0 until 400).map { i =>
      val x1 = rng.nextInt(300); val y1 = rng.nextInt(300)
      (s"t${i % 20}", x1, y1, x1 + 1 + rng.nextInt(50), y1 + 1 + rng.nextInt(50),
        if (rng.nextBoolean()) "water_tower" else "closed_roof_tank", s"c${rng.nextInt(4)}")
    }.toDF("key", "x1", "y1", "x2", "y2", "label", "chip")
  }

  test("native exec matches the library operator exactly") {
    val df = feed
    assert(native(df) == reference(df))
  }

  test("planner inserts exactly one exchange plus the required sort") {
    val plan = MergeBoxesApi.mergeBoxes(feed).queryExecution.executedPlan.toString
    assert(plan.contains("MergeBoxes"), plan)
    assert(plan.split("Exchange").length - 1 == 1, s"expected 1 exchange:\n$plan")
    assert(plan.contains("Sort "), plan)
  }

  test("pre-clustered input plans with no additional exchange") {
    val pre = feed.repartition(col("key"))
    val plan = MergeBoxesApi.mergeBoxes(pre).queryExecution.executedPlan.toString
    // the only exchange is the explicit repartition; the exec itself adds none
    assert(plan.split("Exchange").length - 1 == 1, s"expected 1 exchange:\n$plan")
  }

  test("key filters push through the merge to the source; cluster filters stay above") {
    import spark.implicits._
    val merged = MergeBoxesApi.mergeBoxes(feed)
    val keyFiltered = merged.filter(col("key") === "t3")
    val optimized = keyFiltered.queryExecution.optimizedPlan.toString
    // the key predicate must sit BELOW MergeBoxes in the optimized plan
    val idx = optimized.indexOf("MergeBoxes")
    assert(idx >= 0, optimized)
    assert(optimized.substring(idx).contains("Filter"),
      s"key filter not pushed below the merge:\n$optimized")
    // results agree with filtering the input instead
    val viaInput = reference(feed.filter(col("key") === "t3"))
    assert(keyFiltered.as[Cluster].orderBy("cluster_id").collect().toSeq == viaInput)
    // a cluster-derived filter must NOT be pushed
    val clusterFiltered = MergeBoxesApi.mergeBoxes(feed).filter(col("merged"))
    val opt2 = clusterFiltered.queryExecution.optimizedPlan.toString
    val idx2 = opt2.indexOf("MergeBoxes")
    assert(opt2.substring(0, idx2).contains("Filter"),
      s"cluster filter should remain above the merge:\n$opt2")
  }

  test("dense single-tile input (long transitive chains) matches the library") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val dense = (0 until 150).map { _ =>
      val x1 = rng.nextInt(250); val y1 = rng.nextInt(250)
      ("hot", x1, y1, x1 + 10 + rng.nextInt(40), y1 + 10 + rng.nextInt(40), "water_tower",
        s"c${rng.nextInt(4)}")
    }.toDF("key", "x1", "y1", "x2", "y2", "label", "chip")
    assert(native(dense) == reference(dense))
  }

  test("a null in any input column fails the merge, naming the column") {
    import spark.implicits._
    val box = Seq(("t", 0, 0, 30, 30, "water_tower", "c0"), ("t", 10, 0, 60, 30, "water_tower", "c1"))
      .toDF("key", "x1", "y1", "x2", "y2", "label", "chip")
    val outcomes = box.columns.toSeq.map { c =>
      val withNull = box.withColumn(c, when(col("chip") === "c1", lit(null)).otherwise(col(c))
        .cast(box.schema(c).dataType))
      c -> scala.util.Try(MergeBoxesApi.mergeBoxes(withNull).collect().toSeq)
    }
    val unnamed = outcomes.filterNot {
      case (c, scala.util.Failure(e)) =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(t =>
          t.isInstanceOf[IllegalArgumentException] &&
            t.getMessage.contains(s"column `$c` holds a null"))
      case _ => false
    }
    assert(unnamed.isEmpty, s"a null must fail naming its column; got $unnamed")
  }

  test("empty input yields an empty result through the exec") {
    val empty = feed.filter(col("x1") < 0)
    assert(MergeBoxesApi.mergeBoxes(empty).count() == 0)
  }

  test("two merge operators in one query carry distinct attribute ids") {
    // output attrs are minted per instance — a shared val would emit
    // duplicate ExprIds across branches, which DeduplicateRelations cannot
    // repair for a custom UnaryNode (self-joins/unions would mis-bind)
    val m1 = MergeBoxesApi.mergeBoxes(feed)
    val m2 = MergeBoxesApi.mergeBoxes(feed)
    val ids1 = m1.queryExecution.analyzed.output.map(_.exprId).toSet
    val ids2 = m2.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids1.intersect(ids2).isEmpty, "duplicate ExprIds across merge instances")
    assert(m1.unionByName(m2).count() == 2 * m1.count())
    val joined = m1.select(col("key"), col("n_boxes").as("n_a"))
      .join(m2.select(col("key"), col("n_boxes").as("n_b")), Seq("key"))
      .filter(col("n_a") === col("n_b"))
    assert(joined.count() > 0)
  }

  test("chip_names is the sorted distinct chip set of each cluster") {
    import spark.implicits._
    val tiny = Seq(
      ("t", 0, 0, 30, 30, "water_tower", "c2"),
      ("t", 10, 0, 60, 30, "water_tower", "c1"),   // overlaps first
      ("t", 40, 0, 90, 30, "water_tower", "c1"),   // chains to second
      ("t", 500, 500, 520, 520, "water_tower", "c9")) // isolated
      .toDF("key", "x1", "y1", "x2", "y2", "label", "chip")
    val out = MergeBoxesApi.mergeBoxes(tiny)
      .orderBy("cluster_id")
      .select("n_boxes", "chip_names")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[String](1)))
    assert(out.toSeq == Seq((3, Seq("c1", "c2")), (1, Seq("c9"))))
  }

  test("merged output partitioning is expressed over the operator's own output") {
    // a merge followed by a key aggregation must not re-shuffle: the exec
    // remaps the child's hash partitioning onto its output key attribute
    val agg = MergeBoxesApi.mergeBoxes(feed).groupBy("key").count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 == 1,
      s"expected the merge's single exchange to be reused by the aggregation:\n$plan")
  }
}
