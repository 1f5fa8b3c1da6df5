package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._

import graft.pipeline.TankInventory

class PipelineSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val inv = TankInventory.inventory(spark, sf0001).cache()

  test("e1 inventory: every cluster georeferences inside the expected extent") {
    assert(inv.count() > 0)
    assert(inv.filter(!col("geo_ok")).count() == 0)
  }

  test("e1 inventory: merge produced real multi-box clusters and conflicts") {
    assert(inv.filter(col("merged")).count() > 0)
    assert(inv.filter(col("object_class") === "undefined_object").count() > 0)
  }

  test("e1 inventory: county assignment is unique per cluster") {
    val n = inv.count()
    assert(inv.select("tile_id", "cluster_id").distinct().count() == n)
  }

  test("e1 inventory: diameters are positive and bounded by the box feed") {
    // boxes are at most 20+39=59 px on a side -> merged envelopes can grow,
    // but the min side of a single box cluster is <= 59 px * 0.6 m
    assert(inv.filter(col("diameter_m") <= 0).count() == 0)
    assert(inv.filter(!col("merged") && col("diameter_m") > 59 * 0.6).count() == 0)
  }

  test("e3 crosstab margin equals column sums") {
    val rows = TankInventory.crosstab(spark, sf0001).collect()
    val margin = rows.find(_.getInt(0) == -1).get
    val rest = rows.filterNot(_.getInt(0) == -1)
    (1 to 5).foreach { i =>
      assert(margin.getLong(i) == rest.map(_.getLong(i)).sum, s"col $i")
    }
  }

  test("e3 percent crosstab cells sum to 1 in the margin row (normalize='all')") {
    Seq("county_key", "state_key").foreach { dim =>
      val rows = TankInventory.crosstab(spark, sf0001, dim, percent = true).collect()
      val margin = rows.find(_.getInt(0) == -1).get
      assert(math.abs(margin.getDouble(5) - 1.0) < 1e-12, s"$dim margin total")
      val cellSum = rows.filterNot(_.getInt(0) == -1).map(_.getDouble(5)).sum
      assert(math.abs(cellSum - 1.0) < 1e-9, s"$dim cells")
    }
  }

  test("e3 reports: one aggregation equals the four crosstabs, and no crosstab stays cached") {
    val cached = () => org.apache.spark.sql.GraftSqlShim.cachedEntries(spark)
    val reports = TankInventory.reports(inv).collect()
    val cachedBefore = cached()
    for ((dim, name) <- Seq("county_key" -> "county", "state_key" -> "state");
         percent <- Seq(false, true)) {
      val tag = s"${name}_${if (percent) "pct" else "count"}"
      val want = TankInventory.crosstab(spark, sf0001, dim, percent).collect()
        .map(r => r.getInt(0) -> (1 to 5).map(i => r.get(i) match {
          case n: java.lang.Long => n.toDouble
          case x: java.lang.Double => x.toDouble
        })).sortBy(_._1).toSeq
      val got = reports.filter(_.getString(0) == tag)
        .map(r => r.getInt(1) -> (2 to 6).map(r.getDouble)).sortBy(_._1).toSeq
      assert(got == want, tag)
    }
    assert(cached() == cachedBefore, "a crosstab left a cached relation behind")
  }

  test("e1 inventory: chip_names is a sorted list of this tile's chips") {
    val bad = inv.select(col("tile_id"), col("chip_names"))
      .collect().filter { r =>
        val chips = r.getString(1).split(",")
        val tile = r.getInt(0).toString
        chips.isEmpty || chips.exists(!_.startsWith(s"${tile}_chip_")) ||
          (chips.toSeq != chips.toSeq.sorted) || chips.distinct.length != chips.length
      }
    assert(bad.isEmpty, bad.take(3).mkString("; "))
  }

  test("e1 inventory: lat/lon agree with an independent inverse of the centroid") {
    // recompute the centroid transform with GeoUtm (real trig, same series)
    // from the UTM columns and compare against the pipeline's portable
    // kernel output — a full-pipeline geodesy consistency check
    val rows = inv.select("cx_utm", "cy_utm", "lat", "lon").limit(500).collect()
    rows.foreach { r =>
      // cx_utm/cy_utm are rounded to cm in the output; 1 cm ~ 1e-7 deg
      val (lat, lon) = graft.functions.GeoUtm.toWgs84(r.getDouble(0), r.getDouble(1), 16)
      assert(math.abs(lat - r.getDouble(2)) < 1e-6, s"lat $r")
      assert(math.abs(lon - r.getDouble(3)) < 1e-6, s"lon $r")
    }
  }

  test("e1 inventory: state matches the assigned county's state") {
    assert(inv.filter(col("state_key") =!= floor(col("county_key") / 5).cast("int"))
      .count() == 0)
  }

  test("e1 inventory: the county argmax is one expression, with no join, sort aggregate or extra exchange") {
    val built = TankInventory.inventory(spark, sf0001)
    built.collect()
    val plan = built.queryExecution.executedPlan
    assert(collect(plan) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty, plan.toString)
    assert(collect(plan) { case a: SortAggregateExec => a }.isEmpty, plan.toString)
    // the box merge's exchange on the tile key is the chain's only shuffle
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size == 1, plan.toString)
    // and the argmax runs once per cluster: no filter re-evaluates it
    val argmaxes = collect(plan) { case p =>
      p.expressions.flatMap(_.collect { case a: graft.plans.CountyArgmax => a })
    }.flatten
    assert(argmaxes.size == 1, plan.toString)
  }

  test("e3e runs in at most 6 Spark jobs at sf0.001") {
    val e3e = graft.SparkEntry.queries("e3e_persisted_crosstabs")
    e3e(spark, sf0001).collect() // warm: footers, codegen
    val (_, jobs) = jobsDuring(e3e(spark, sf0001).collect())
    assert(jobs <= 6, s"e3e ran $jobs jobs")
  }
}
