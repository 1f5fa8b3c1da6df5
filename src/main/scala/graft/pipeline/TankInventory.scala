package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField, StructType}

import graft.io.Tables

/** E1 — the flagship pipeline (`tile-level-annotation.py`, SURVEY.md §3):
  * annotation boxes -> per-tile connected-component merge -> UTM
  * georeferencing -> WGS84 centroid -> greatest-overlap county assignment ->
  * tank inventory, as one declarative DataFrame flow.
  *
  * The reference re-scans its XML corpus four times and nests loops for the
  * spatial join; here the box feed is read once, the merge is one shuffle on
  * the tile key, the county table is collected to the driver once and
  * scanned per cluster by one native expression
  * ([[graft.plans.CountyArgmax]]), and everything else is column
  * arithmetic inside codegen. Domain inputs are synthesized
  * deterministically from the driver corpus so a DuckDB oracle can replay
  * every relational step, including the WGS84 columns — the
  * [[graft.functions.GeoPortable]] transform is bit-identical between the
  * JVM and the DuckDB SQL it renders, so lat/lon hash-compare as values.
  *
  * Synthetic georeferencing: 1000 tiles on a UTM zone-16 grid
  * (6000x5000 px at 0.6 m/px), 25 rectangular counties tiling the same
  * extent in UTM metres.
  */
object TankInventory {

  val MetresPerPx = 0.6
  val UtmZone = 16

  /** Annotation boxes from lineitem, keyed by synthetic tile id (0..999).
    * Box identity is positional in the canonical order (assigned inside
    * BoxMerge — no window pass needed; corpus line numbers are not unique).
    * `chip` is the 512-px chip image the box sits on (`tile_chip_row_col`,
    * the reference's chip naming, `src/form_calcs.py:704-714`). */
  def boxes(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    l.select(
      (col("l_orderkey") % 1000).cast("string").as("key"),
      (col("l_partkey") * 13 % 5800).cast("int").as("x1"),
      (col("l_suppkey") * 29 % 4800).cast("int").as("y1"))
      .withColumn("x2", col("x1") + 20 + (col("x1") % 40))
      .withColumn("y2", col("y1") + 20 + (col("y1") % 40))
      .withColumn("label",
        when(col("x1") % 3 === 0, "closed_roof_tank")
          .when(col("x1") % 3 === 1, "water_tower")
          .otherwise("spherical_tank"))
      .withColumn("chip", concat(col("key"), lit("_chip_"),
        floor(col("y1") / 512).cast("int"), lit("_"),
        floor(col("x1") / 512).cast("int")))
  }

  /** NW-corner UTM georef for a tile id (zone 16 grid). */
  private def nwX(tid: Column) = lit(300000) + (tid % 40) * 5000
  private def nwY(tid: Column) = lit(3600000) + floor(tid / 40) * 5000

  /** 25 rectangular counties tiling the UTM extent, 5 per state (the
    * reference keys its distribution reports by `state_fips` and
    * `county_id`, `distribution_by_county_state.py:28-41`). */
  def counties(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir).select(
      col("n_nationkey").as("county_key"),
      floor(col("n_nationkey") / 5).cast("int").as("state_key"),
      (lit(280000) + (col("n_nationkey") % 5) * 48000).cast("double").as("kx1"),
      (lit(3590000) + floor(col("n_nationkey") / 5) * 30000).cast("double").as("ky1"))
      .withColumn("kx2", col("kx1") + 48000)
      .withColumn("ky2", col("ky1") + 30000)

  /** The full inventory build. */
  def inventory(spark: SparkSession, dir: String): DataFrame = {
    // 1. merge boxes per tile (A8) through the first-class physical
    //    operator: ClusteredDistribution on the tile key -> one exchange,
    //    sorted-run streaming union-find per tile
    val merged = graft.plans.MergeBoxesApi.mergeBoxes(boxes(spark, dir))

    // 2. georeference: px envelope -> UTM metres (linspace closed form)
    val tid = col("key").cast("int")
    val geo = merged
      .withColumn("tile_id", tid)
      .withColumn("ex1", nwX(tid) + col("minx") * MetresPerPx)
      .withColumn("ex2", nwX(tid) + col("maxx") * MetresPerPx)
      .withColumn("ey1", nwY(tid) - col("maxy") * MetresPerPx)
      .withColumn("ey2", nwY(tid) - col("miny") * MetresPerPx)
      .withColumn("cx_utm", (col("ex1") + col("ex2")) / 2.0)
      .withColumn("cy_utm", (col("ey1") + col("ey2")) / 2.0)
      .withColumn("diameter_m",
        least(col("maxx") - col("minx"), col("maxy") - col("miny")) * MetresPerPx)

    // 3. WGS84 centroid via the engine-portable transverse-Mercator
    //    inverse as native codegen expressions (utm_lat/utm_lon stay inside
    //    the WholeStageCodegen span; no UDF in the flagship path). Output
    //    is bit-identical to the DuckDB SQL the oracle runs, so lat/lon are
    //    emitted as full-precision doubles and hash-compared as ordinary
    //    values (`src/form_calcs.py:919,975-984`)
    graft.plans.GeoFunctions.register(spark)
    val wgs = geo
      .withColumn("lat", expr(s"utm_lat(cx_utm, cy_utm, $UtmZone)"))
      .withColumn("lon", expr(s"utm_lon(cx_utm, cy_utm, $UtmZone)"))
      .withColumn("geo_ok",
        col("lat").between(30.0, 36.0) && col("lon").between(-91.0, -85.0))

    // 4. greatest-overlap county assignment (J8): the county table is
    //    collected to the driver once, and each cluster loops over its
    //    rectangles inside one codegen'd expression. `inline` emits the
    //    argmax county with its exact overlap, or no row when none
    //    overlaps (the reference's inner join drops those clusters). Equal
    //    overlaps go to the smaller county_key, the oracle's
    //    (overlap DESC, county_key) order. No join, aggregation or
    //    exchange: the clusters stay on their merge partitions.
    val best = graft.plans.CountyArgmax(col("ex1"), col("ex2"), col("ey1"), col("ey2"),
      graft.plans.CountyRects.collect(counties(spark, dir)))
    // every column but the cluster key and the georeference stays
    // nullable: the written parquet schema (OPTIONAL vs REQUIRED) is part
    // of the output, and e1's has always declared these OPTIONAL
    def opt(c: Column) = GraftSqlShim.column(KnownNullable(GraftSqlShim.expression(c)))
    wgs.select(col("*"), inline(best))
      .select(
        col("tile_id"), col("cluster_id"),
        opt(col("minx")).as("minx"), opt(col("miny")).as("miny"),
        opt(col("maxx")).as("maxx"), opt(col("maxy")).as("maxy"),
        opt(col("n_boxes")).as("n_boxes"), opt(col("object_class")).as("object_class"),
        opt(col("merged")).as("merged"),
        opt(array_join(col("chip_names"), ",")).as("chip_names"),
        round(col("cx_utm"), 2).as("cx_utm"),
        round(col("cy_utm"), 2).as("cy_utm"),
        round(col("diameter_m"), 2).as("diameter_m"),
        col("lat"), col("lon"),
        opt(col("county_key")).as("county_key"), opt(col("state_key")).as("state_key"),
        opt(round(col("overlap_m2"), 2)).as("overlap_m2"),
        col("geo_ok"))
  }

  val Classes = Seq("closed_roof_tank", "water_tower", "spherical_tank", "undefined_object")

  /** E3 — {state, county} x class crosstabs with margins over the
    * inventory, count or percent-of-grand-total form — the reference's four
    * distribution reports (`distribution_by_county_state.py:32-48`;
    * pandas `crosstab(margins=True[, normalize=True])` divides every cell,
    * margins included, by the grand total). Percent cells are emitted as
    * raw long/long double quotients — both engines evaluate the identical
    * division, so no rounding is needed for the hash compare. */
  def crosstab(spark: SparkSession, dir: String, dim: String = "county_key",
               percent: Boolean = false): DataFrame =
    crosstabFrom(inventory(spark, dir), dim, percent)

  /** Crosstab over an already-materialized inventory frame — the
    * write-once-read-four lifecycle derives all four reports from ONE
    * persisted inventory (the reference writes the GeoJSON once and its
    * report script reads it, `distribution_by_county_state.py:27`). The
    * margin row (`dim` = -1) is the grand-total grouping set of the same
    * aggregation as the cells, so the inventory is read once and nothing
    * is cached. Rows come sorted by (`total` desc, `dim`). */
  def crosstabFrom(inv: DataFrame, dim: String, percent: Boolean): DataFrame = {
    val (rows, grand) = collectCounts(inv, Seq(dim))
    // grouping_id(dim): 0 = a cell row, 1 = the margin
    val out = rows.map(r => (if (r.gid == 1) Int.box(-1) else r.dims.head, r.cells))
      .sortBy { case (key, cells) => (-cells.last, Option(key).map(_.intValue)) }
      .map { case (key, cells) => Row.fromSeq(key +: cells.map(cell(_, percent, grand))) }
    val cellType = if (percent) DoubleType else LongType
    localFrame(inv, out, StructField(dim, IntegerType) +:
      (Classes :+ "total").map(StructField(_, cellType, nullable = percent)))
  }

  /** All four distribution reports — {county, state} x {count, percent},
    * margins included — from ONE aggregation over `inv`, tagged by
    * `report` (`county_count`, `state_count`, `county_pct`, `state_pct`)
    * and keyed by `dim_key` (-1 on the margin rows), sorted by
    * (`report`, `dim_key`). Rows equal the four [[crosstabFrom]] outputs
    * with every cell cast to double, so count and percent reports share
    * one schema. */
  def reports(inv: DataFrame): DataFrame = {
    val (rows, grand) = collectCounts(inv, Seq("county_key", "state_key"))
    // grouping_id(county_key, state_key): 1 = county cells, 2 = state
    // cells, 3 = the grand-total row, the margin of both
    val out = rows.flatMap { r =>
      val (tags, key) = r.gid match {
        case 1 => (Seq("county_count", "county_pct"), r.dims(0))
        case 2 => (Seq("state_count", "state_pct"), r.dims(1))
        case _ => (Seq("county_count", "state_count", "county_pct", "state_pct"), Int.box(-1))
      }
      tags.map(t => Row.fromSeq(t +: key +: r.cells.map { n =>
        if (t.endsWith("_pct")) cell(n, percent = true, grand) else n.toDouble
      }))
    }.sortBy(r => (r.getString(0), Option(r.getAs[Integer](1)).map(_.intValue)))
    localFrame(inv, out, StructField("report", StringType, nullable = false) +:
      StructField("dim_key", IntegerType) +:
      (Classes :+ "total").map(StructField(_, DoubleType)))
  }

  /** One row of [[classCounts]]: its `grouping_id` over the dims, the dim
    * values (null where aggregated away) and the cells — the class counts,
    * then their total. */
  private case class Counts(gid: Long, dims: Seq[Integer], cells: Seq[Long])

  /** [[classCounts]] over `dims`, run in Spark and collected (one row per
    * dim value plus the grand total), with the grand total (None when
    * there is none or it is 0). The crosstab cells are derived from these
    * rows on the driver, so no window or single-partition exchange
    * spreads the grand total, and the crosstabs generate no classes
    * beyond the aggregation's. */
  private def collectCounts(inv: DataFrame, dims: Seq[String]): (Seq[Counts], Option[Long]) = {
    val n = dims.size
    val rows = GraftSqlShim.collectInternal(classCounts(inv, dims)).toSeq.map { r =>
      Counts(r.getLong(n + Classes.size),
        (0 until n).map(i => if (r.isNullAt(i)) null else Int.box(r.getInt(i))),
        ((n until n + Classes.size) :+ (n + Classes.size + 1)).map(r.getLong))
    }
    val all = (1L << n) - 1
    (rows, rows.find(_.gid == all).map(_.cells.last).filter(_ != 0))
  }

  /** Per-class counts and their total for each of `dims` alone plus the
    * grand total, as ONE `GROUPING SETS` aggregation; `_gid` is the row's
    * `grouping_id` over `dims` (all bits set on the grand-total row). */
  private def classCounts(inv: DataFrame, dims: Seq[String]): DataFrame = {
    val aggs = Classes.map(c => count(when(col("object_class") === c, 1)).as(c)) :+
      grouping_id(dims.map(col): _*).as("_gid")
    inv.groupingSets(dims.map(d => Seq(col(d))) :+ Seq.empty, dims.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("total", Classes.map(col).reduce(_ + _))
  }

  /** A crosstab cell: the count, or its share of the grand total (pandas
    * `normalize='all'` divides every cell, margins included; null without
    * a grand total) as the long/long division both engines evaluate. */
  private def cell(n: Long, percent: Boolean, grand: Option[Long]): Any =
    if (!percent) n else grand.map(g => Double.box(n.toDouble / g.toDouble)).orNull

  /** The driver-built rows as a local relation of `fields`. */
  private def localFrame(inv: DataFrame, rows: Seq[Row], fields: Seq[StructField]): DataFrame =
    inv.sparkSession.createDataFrame(rows.asJava, StructType(fields))
}
