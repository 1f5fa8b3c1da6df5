package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.functions.GeoUtm
import graft.plans.MergeBoxesApi
import graft.sources.VocXml

/** Queries exercising the engine's custom operators: A8 merge clustering,
  * the UTM<->WGS84 transform, and the VOC-XML parse/render pair.
  *
  * Oracle strategy:
  *  - a8: DuckDB recursive-CTE connected components over the same edges —
  *    a genuinely independent implementation of the clustering semantics;
  *  - geo: invariant oracle (`within_tol = true` for every row) — DuckDB
  *    cannot run the transform, but any drift in our math flips booleans
  *    and fails the hash;
  *  - voc: the oracle produces the expected flattened rows directly, so the
  *    render->parse round trip must be the identity on them.
  */
object CustomOpQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Chip image a box was annotated on: the 128-px grid cell, named
    * `key_cROW_COL` (globally unique, like the reference's chip names).
    * Derived from coordinates, so coordinate-identical boxes share a chip
    * and id assignment stays deterministic in every engine. */
  private def chipOf =
    concat(col("key"), lit("_c"), floor(col("y1") / 128).cast("int"),
      lit("_"), floor(col("x1") / 128).cast("int"))

  /** The synthetic box feed a8 and a10 cluster (mirrors the `raw` CTE of
    * a8CoreSql). */
  private def a8Feed(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(
      col("l_orderkey").cast("string").as("key"),
      (col("l_partkey") * 13 % 300).cast("int").as("x1"),
      (col("l_suppkey") * 29 % 300).cast("int").as("y1"),
      (col("l_partkey") * 13 % 300 + 20 + col("l_partkey") % 40).cast("int").as("x2"),
      (col("l_suppkey") * 29 % 300 + 20 + col("l_suppkey") % 40).cast("int").as("y2"),
      when(col("l_partkey") % 3 === 0, "closed_roof_tank")
        .when(col("l_partkey") % 3 === 1, "water_tower")
        .otherwise("spherical_tank").as("label"))
      .withColumn("chip", chipOf)

  // ------------------------------------------------------------------ A8: merge clustering
  /** A8 through the merge operator ([[graft.plans.MergeBoxesApi.mergeBoxes]]).
    * Box identity = position in the canonical (x1,y1,x2,y2,label,chip)
    * order, assigned inside the operator — (l_orderkey, l_linenumber) is
    * NOT unique in the synthetic corpus, and the positional scheme needs no
    * window. Registered as a8, a8b and a8c so earlier bench and verify
    * records stay comparable; all three are pinned to one recursive-CTE
    * oracle. */
  private val a8MergeClusters: Q = (spark, dir) =>
    MergeBoxesApi.mergeBoxes(a8Feed(spark, dir))
      .withColumn("chip_names", array_join(col("chip_names"), ","))
      .orderBy("key", "cluster_id")

  private val a8CoreSql =
    """raw AS (
      |  SELECT CAST(l_orderkey AS VARCHAR) AS key,
      |    CAST(l_partkey * 13 % 300 AS INTEGER) AS x1,
      |    CAST(l_suppkey * 29 % 300 AS INTEGER) AS y1,
      |    CAST(l_partkey * 13 % 300 + 20 + l_partkey % 40 AS INTEGER) AS x2,
      |    CAST(l_suppkey * 29 % 300 + 20 + l_suppkey % 40 AS INTEGER) AS y2,
      |    CASE WHEN l_partkey % 3 = 0 THEN 'closed_roof_tank'
      |         WHEN l_partkey % 3 = 1 THEN 'water_tower'
      |         ELSE 'spherical_tank' END AS label
      |  FROM lineitem),
      |boxes AS (
      |  SELECT *,
      |    key || '_c' || CAST(CAST(floor(y1 / 128.0) AS INTEGER) AS VARCHAR) || '_' || CAST(CAST(floor(x1 / 128.0) AS INTEGER) AS VARCHAR) AS chip,
      |    CAST(row_number() OVER (PARTITION BY key
      |    ORDER BY x1, y1, x2, y2, label) AS INTEGER) AS id
      |  FROM raw),
      |edges AS (
      |  SELECT a.key, a.id AS src, b.id AS dst
      |  FROM boxes a JOIN boxes b ON a.key = b.key AND a.id <> b.id
      |  WHERE (a.x1 <= b.x1 AND a.y1 <= b.y1 AND a.x2 >= b.x2 AND a.y2 >= b.y2)
      |     OR (b.x1 <= a.x1 AND b.y1 <= a.y1 AND b.x2 >= a.x2 AND b.y2 >= a.y2)
      |     OR (greatest(a.x1, b.x1) - least(a.x2, b.x2) <= 5
      |         AND ((a.y1 <= b.y1 AND a.y2 >= b.y2) OR (b.y1 <= a.y1 AND b.y2 >= a.y2)))
      |     OR (greatest(a.y1, b.y1) - least(a.y2, b.y2) <= 5
      |         AND ((a.x1 <= b.x1 AND a.x2 >= b.x2) OR (b.x1 <= a.x1 AND b.x2 >= a.x2)))
      |  UNION ALL SELECT key, id, id FROM boxes),
      |reach(key, src, dst) AS (
      |  SELECT key, src, dst FROM edges
      |  UNION
      |  SELECT r.key, r.src, e.dst FROM reach r
      |  JOIN edges e ON r.key = e.key AND r.dst = e.src),
      |comp AS (
      |  SELECT key, src AS id, min(dst) AS cluster_id FROM reach GROUP BY 1, 2)""".stripMargin

  private val a8MergeClustersSql =
    s"""WITH RECURSIVE $a8CoreSql
      |SELECT b.key, c.cluster_id,
      |  min(b.x1) AS minx, min(b.y1) AS miny,
      |  max(b.x2) AS maxx, max(b.y2) AS maxy,
      |  CAST(count(*) AS INTEGER) AS n_boxes,
      |  CASE WHEN count(DISTINCT b.label) > 1 THEN 'undefined_object'
      |       ELSE min(b.label) END AS object_class,
      |  count(*) > 1 AS merged,
      |  array_to_string(list_sort(list(DISTINCT b.chip)), ',') AS chip_names
      |FROM boxes b JOIN comp c ON b.key = c.key AND b.id = c.id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------ A10: cluster chip flatten + semi-join
  /** Replays `make-complete-dataset.py:45-47` /
    * `tile-level-annotation.py:113`: flatten the merged clusters' chip-name
    * lists, dedupe, and select those images from the chip universe — the
    * "images with (merged) annotations" that move into the complete
    * dataset. Exercises the ArrayType output of the custom physical
    * operator end-to-end (explode over MergeBoxesExec's chip_names). */
  private val a10ClusterChips: Q = (spark, dir) => {
    val raw = a8Feed(spark, dir)
    val selected = MergeBoxesApi.mergeBoxes(raw)
      .filter(col("merged"))
      .select(explode(col("chip_names")).as("image_name"))
      .distinct()
    // semi-join the chip universe against the flattened selection — the
    // reference moves matching images out of the annotator directories
    raw.select(col("chip").as("image_name")).distinct()
      .join(selected, Seq("image_name"), "left_semi")
      .orderBy("image_name")
  }

  private val a10ClusterChipsSql =
    s"""WITH RECURSIVE $a8CoreSql,
      |sizes AS (
      |  SELECT b.key, c.cluster_id, count(*) AS n
      |  FROM boxes b JOIN comp c ON b.key = c.key AND b.id = c.id
      |  GROUP BY 1, 2)
      |SELECT DISTINCT b.chip AS image_name
      |FROM boxes b
      |JOIN comp c ON b.key = c.key AND b.id = c.id
      |JOIN sizes s ON s.key = b.key AND s.cluster_id = c.cluster_id
      |WHERE s.n > 1
      |ORDER BY image_name""".stripMargin

  // ------------------------------------------------------------------ geo: UTM round trip
  private val geoUtmRoundtrip: Q = (spark, dir) => {
    val c = Tables.customer(spark, dir)
    val pts = c.select(col("c_custkey"),
      (lit(30.0) + (col("c_custkey") % 1000) / 100.0).as("lat"),
      (lit(-100.0) + (col("c_custkey") % 700) / 100.0).as("lon"))
      .withColumn("zone", (floor((col("lon") + 180.0) / 6.0) + 1).cast("int"))
    val utm = pts.withColumn("en", GeoUtm.utmFromWgs84(col("lat"), col("lon"), col("zone")))
      .select(col("c_custkey"), col("lat"), col("lon"), col("zone"),
        col("en._1").as("easting"), col("en._2").as("northing"))
    val back = utm.withColumn("ll", GeoUtm.wgs84FromUtm(col("easting"), col("northing"), col("zone")))
      .withColumn("err_deg",
        greatest(abs(col("ll._1") - col("lat")), abs(col("ll._2") - col("lon"))))
    back.select(col("c_custkey"),
        (col("err_deg") < 1e-7 &&
          col("easting") > 100000 && col("easting") < 900000 &&
          col("northing") > 3000000 && col("northing") < 4500000).as("within_tol"))
      .orderBy("c_custkey")
  }

  private val geoUtmRoundtripSql =
    """SELECT c_custkey, true AS within_tol FROM customer ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------------ S7/S15: VOC XML round trip
  private val s7VocRoundtrip: Q = (spark, dir) => {
    val l = Tables.lineitem(spark, dir)
    val objs = l.select(col("l_orderkey"),
      struct(
        when(col("l_partkey") % 3 === 0, "closed_roof_tank")
          .when(col("l_partkey") % 3 === 1, "water_tower")
          .otherwise("spherical_tank").as("name"),
        (col("l_linenumber") % 2).cast("int").as("truncated"),
        (col("l_orderkey") % 2).cast("int").as("difficult"),
        (col("l_partkey") * 13 % 300).cast("int").as("xmin"),
        (col("l_suppkey") * 29 % 300).cast("int").as("ymin"),
        (col("l_partkey") * 13 % 300 + 40).cast("int").as("xmax"),
        (col("l_suppkey") * 29 % 300 + 40).cast("int").as("ymax")).as("obj"))
    val xml = objs.groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("obj"))).as("objects"))
      .withColumn("xml", VocXml.renderVoc(
        concat(lit("t"), col("l_orderkey"), lit(".xml")), lit(6000), lit(5000), col("objects")))
    xml.select(col("l_orderkey"), explode(VocXml.parseVoc(col("xml"))).as("o"))
      .select(col("l_orderkey"), col("o.name").as("name"),
        col("o.truncated").as("truncated"), col("o.difficult").as("difficult"),
        col("o.xmin").as("xmin"), col("o.ymin").as("ymin"),
        col("o.xmax").as("xmax"), col("o.ymax").as("ymax"))
      .orderBy("l_orderkey", "xmin", "ymin", "name", "truncated", "xmax", "ymax")
  }

  private val s7VocRoundtripSql =
    """SELECT l_orderkey,
      |  CASE WHEN l_partkey % 3 = 0 THEN 'closed_roof_tank'
      |       WHEN l_partkey % 3 = 1 THEN 'water_tower'
      |       ELSE 'spherical_tank' END AS name,
      |  CAST(l_linenumber % 2 AS INTEGER) AS truncated,
      |  CAST(l_orderkey % 2 AS INTEGER) AS difficult,
      |  CAST(l_partkey * 13 % 300 AS INTEGER) AS xmin,
      |  CAST(l_suppkey * 29 % 300 AS INTEGER) AS ymin,
      |  CAST(l_partkey * 13 % 300 + 40 AS INTEGER) AS xmax,
      |  CAST(l_suppkey * 29 % 300 + 40 AS INTEGER) AS ymax
      |FROM lineitem
      |ORDER BY l_orderkey, xmin, ymin, name, truncated, xmax, ymax""".stripMargin

  // ------------------------------------------------------------------ registry
  val queries: Map[String, Q] = Map(
    "a8_merge_clusters" -> a8MergeClusters,
    "a8b_merge_native" -> a8MergeClusters,
    "a8c_merge_unbounded" -> a8MergeClusters,
    "a10_cluster_chips" -> a10ClusterChips,
    "geo_utm_roundtrip" -> geoUtmRoundtrip,
    "s7_voc_roundtrip" -> s7VocRoundtrip
  )

  val oracle: Map[String, String] = Map(
    "a8_merge_clusters" -> a8MergeClustersSql,
    "a8b_merge_native" -> a8MergeClustersSql,
    "a8c_merge_unbounded" -> a8MergeClustersSql,
    "a10_cluster_chips" -> a10ClusterChipsSql,
    "geo_utm_roundtrip" -> geoUtmRoundtripSql,
    "s7_voc_roundtrip" -> s7VocRoundtripSql
  )
}
