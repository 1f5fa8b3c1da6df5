package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** E1 — the flagship pipeline (`tile-level-annotation.py`, SURVEY.md §3):
  * annotation boxes -> per-tile connected-component merge -> UTM
  * georeferencing -> WGS84 centroid -> greatest-overlap county assignment ->
  * tank inventory, as one declarative DataFrame flow.
  *
  * The reference re-scans its XML corpus four times and nests loops for the
  * spatial join; here the box feed is read once, the merge is one shuffle on
  * the tile key, the county table is broadcast, and everything else is
  * column arithmetic inside codegen. Domain inputs are synthesized
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
  private def nwX(tid: org.apache.spark.sql.Column) = lit(300000) + (tid % 40) * 5000
  private def nwY(tid: org.apache.spark.sql.Column) = lit(3600000) + floor(tid / 40) * 5000

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

    // 4. greatest-overlap county assignment (J8: counties broadcast,
    //    exact rect overlap, argmax via row_number)
    val k = counties(spark, dir)
    val overlap =
      greatest(lit(0.0), least(col("ex2"), col("kx2")) - greatest(col("ex1"), col("kx1"))) *
        greatest(lit(0.0), least(col("ey2"), col("ky2")) - greatest(col("ey1"), col("ky1")))
    val joined = wgs.join(broadcast(k), overlap > 0.0)
      .withColumn("overlap_m2", overlap)
    // Greatest-overlap argmax as ONE aggregation with map-side partials
    // instead of window(row_number)+filter: the broadcast join leaves the
    // candidate rows on their producing partitions, so partial max_by
    // collapses each cluster's <= |counties| candidates BEFORE the
    // exchange — the shuffle carries one row per cluster, not one per
    // overlapping county, and the window's full per-partition sort
    // disappears (guide §2.3 "aggregate before you shuffle", §2.4).
    // Identical rows: max_by's key (overlap_m2, -county_key) is the
    // window's (overlap DESC, county_key ASC) order, and county_key is
    // unique per candidate so the argmax is deterministic.
    val payload = struct(
      col("minx"), col("miny"), col("maxx"), col("maxy"),
      col("n_boxes"), col("object_class"), col("merged"),
      col("chip_names"), col("cx_utm"), col("cy_utm"), col("diameter_m"),
      col("lat"), col("lon"), col("county_key"), col("state_key"),
      col("overlap_m2"), col("geo_ok"))
    joined.groupBy("tile_id", "cluster_id")
      .agg(max_by(payload,
        struct(col("overlap_m2"), (-col("county_key")).as("nk"))).as("b"))
      .select(
        col("tile_id"), col("cluster_id"),
        col("b.minx").as("minx"), col("b.miny").as("miny"),
        col("b.maxx").as("maxx"), col("b.maxy").as("maxy"),
        col("b.n_boxes").as("n_boxes"),
        col("b.object_class").as("object_class"),
        col("b.merged").as("merged"),
        array_join(col("b.chip_names"), ",").as("chip_names"),
        round(col("b.cx_utm"), 2).as("cx_utm"),
        round(col("b.cy_utm"), 2).as("cy_utm"),
        round(col("b.diameter_m"), 2).as("diameter_m"),
        col("b.lat").as("lat"), col("b.lon").as("lon"),
        col("b.county_key").as("county_key"),
        col("b.state_key").as("state_key"),
        round(col("b.overlap_m2"), 2).as("overlap_m2"),
        col("b.geo_ok").as("geo_ok"))
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
    * is cached. */
  def crosstabFrom(inv: DataFrame, dim: String, percent: Boolean): DataFrame = {
    val margin = col("_gid") === 1
    val key = when(margin, lit(-1)).otherwise(col(dim)).as(dim)
    classCounts(inv, Seq(dim))
      .select(key +: (Classes :+ "total").map(c => cell(c, percent, margin)): _*)
      .orderBy(col("total").desc, col(dim))
  }

  /** All four distribution reports — {county, state} x {count, percent},
    * margins included — from ONE aggregation over `inv`, tagged by
    * `report` (`county_count`, `state_count`, `county_pct`, `state_pct`)
    * and keyed by `dim_key` (-1 on the margin rows). Rows equal the four
    * [[crosstabFrom]] outputs with every cell cast to double, so count
    * and percent reports share one schema. */
  def reports(inv: DataFrame): DataFrame = {
    val counts = classCounts(inv, Seq("county_key", "state_key"))
    // grouping_id(county_key, state_key): 1 = county cells, 2 = state
    // cells, 3 = the grand-total row, the margin of both
    val gid = col("_gid")
    val tags = when(gid === 1, array(lit("county_count"), lit("county_pct")))
      .when(gid === 2, array(lit("state_count"), lit("state_pct")))
      .otherwise(array(Seq("county_count", "state_count", "county_pct", "state_pct").map(lit): _*))
    val key = when(gid === 1, col("county_key")).when(gid === 2, col("state_key"))
      .otherwise(lit(-1)).cast("int")
    val pct = col("report").endsWith("_pct")
    counts.select(Seq(explode(tags).as("report"), key.as("dim_key"), gid) ++
        (Classes :+ "total").map(col): _*)
      .select(col("report") +: col("dim_key") +:
        (Classes :+ "total").map(c =>
          when(pct, cell(c, percent = true, gid === 3))
            .otherwise(col(c).cast("double")).as(c)): _*)
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
    * `normalize='all'` divides every cell, margins included). The grand
    * total is the `total` of the row `grand` marks, spread to every row by
    * a window over the aggregation's few rows. */
  private def cell(c: String, percent: Boolean,
                   grand: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (!percent) col(c)
    else (col(c) / max(when(grand, col("total"))).over()).as(c)
}
