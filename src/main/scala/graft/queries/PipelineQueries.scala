package graft.queries

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.SpatialOps
import graft.io.{Sinks, Tables}
import graft.pipeline.TankInventory
import graft.sources.VocXml

/** The flagship E1/E3 pipeline queries, non-Parquet IO round trips, and the
  * JTS-backed spatial join (checked against the closed-form rect oracle). */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Writes a DETERMINISTIC fixture once: a re-run (bench warm + timed
    * passes, repeated verify) finds the file and skips the render, so the
    * timed body measures the OPERATOR, not driver-side fixture synthesis
    * (`g1_chip_pixels_rgb` spent ~1.6s/run re-rendering 25 RGB tiles).
    * Atomic tmp+move so a killed writer can never leave a truncated
    * fixture to poison every later run. Content is a pure function of the
    * name — a fixture-shape change must rename its scratch dir. */
  private def writeFixture(p: java.nio.file.Path, bytes: => Array[Byte]): Unit =
    if (!Files.exists(p)) {
      val tmp = p.resolveSibling(s".${p.getFileName}.tmp-${java.util.UUID.randomUUID()}")
      Files.write(tmp, bytes)
      try Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => Files.deleteIfExists(tmp)
      }
    }

  // ------------------------------------------------------------------ E1 oracle (recursive CTE replay)
  private val e1CoreSql =
    """raw AS (
      |  SELECT CAST(l_orderkey % 1000 AS VARCHAR) AS key,
      |    CAST(l_partkey * 13 % 5800 AS INTEGER) AS x1,
      |    CAST(l_suppkey * 29 % 4800 AS INTEGER) AS y1
      |  FROM lineitem),
      |raw2 AS (
      |  SELECT key, x1, y1, x1 + 20 + (x1 % 40) AS x2, y1 + 20 + (y1 % 40) AS y2,
      |    CASE WHEN x1 % 3 = 0 THEN 'closed_roof_tank'
      |         WHEN x1 % 3 = 1 THEN 'water_tower'
      |         ELSE 'spherical_tank' END AS label
      |  FROM raw),
      |boxes AS (
      |  SELECT *,
      |    key || '_chip_' || CAST(CAST(floor(y1 / 512.0) AS INTEGER) AS VARCHAR) || '_' || CAST(CAST(floor(x1 / 512.0) AS INTEGER) AS VARCHAR) AS chip,
      |    CAST(row_number() OVER (PARTITION BY key
      |    ORDER BY x1, y1, x2, y2, label) AS INTEGER) AS id
      |  FROM raw2),
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
      |comp AS (SELECT key, src AS id, min(dst) AS cluster_id FROM reach GROUP BY 1, 2),
      |clusters AS (
      |  SELECT b.key, c.cluster_id,
      |    min(b.x1) AS minx, min(b.y1) AS miny,
      |    max(b.x2) AS maxx, max(b.y2) AS maxy,
      |    CAST(count(*) AS INTEGER) AS n_boxes,
      |    CASE WHEN count(DISTINCT b.label) > 1 THEN 'undefined_object'
      |         ELSE min(b.label) END AS object_class,
      |    count(*) > 1 AS merged,
      |    array_to_string(list_sort(list(DISTINCT b.chip)), ',') AS chip_names
      |  FROM boxes b JOIN comp c ON b.key = c.key AND b.id = c.id
      |  GROUP BY 1, 2),
      |geo AS (
      |  SELECT *, CAST(key AS INTEGER) AS tile_id,
      |    (300000 + (CAST(key AS INTEGER) % 40) * 5000) + minx * CAST(0.6 AS DOUBLE) AS ex1,
      |    (300000 + (CAST(key AS INTEGER) % 40) * 5000) + maxx * CAST(0.6 AS DOUBLE) AS ex2,
      |    (3600000 + (CAST(key AS INTEGER) // 40) * 5000) - maxy * CAST(0.6 AS DOUBLE) AS ey1,
      |    (3600000 + (CAST(key AS INTEGER) // 40) * 5000) - miny * CAST(0.6 AS DOUBLE) AS ey2
      |  FROM clusters),
      |counties AS (
      |  SELECT n_nationkey AS county_key,
      |    CAST(n_nationkey // 5 AS INTEGER) AS state_key,
      |    CAST(280000 + (n_nationkey % 5) * 48000 AS DOUBLE) AS kx1,
      |    CAST(3590000 + (n_nationkey // 5) * 30000 AS DOUBLE) AS ky1,
      |    CAST(280000 + (n_nationkey % 5) * 48000 + 48000 AS DOUBLE) AS kx2,
      |    CAST(3590000 + (n_nationkey // 5) * 30000 + 30000 AS DOUBLE) AS ky2
      |  FROM nation),
      |assigned AS (
      |  SELECT g.*, k.county_key, k.state_key,
      |    greatest(0.0, least(g.ex2, k.kx2) - greatest(g.ex1, k.kx1)) *
      |      greatest(0.0, least(g.ey2, k.ky2) - greatest(g.ey1, k.ky1)) AS overlap_m2,
      |    row_number() OVER (PARTITION BY g.tile_id, g.cluster_id
      |      ORDER BY greatest(0.0, least(g.ex2, k.kx2) - greatest(g.ex1, k.kx1)) *
      |               greatest(0.0, least(g.ey2, k.ky2) - greatest(g.ey1, k.ky1)) DESC,
      |               k.county_key) AS rn
      |  FROM geo g JOIN counties k
      |    ON least(g.ex2, k.kx2) > greatest(g.ex1, k.kx1)
      |   AND least(g.ey2, k.ky2) > greatest(g.ey1, k.ky1))""".stripMargin

  private val e1Inventory: Q = (spark, dir) =>
    TankInventory.inventory(spark, dir).orderBy("tile_id", "cluster_id")

  /** Key-filtered merge through the custom operator: the
    * PushFilterThroughMergeBoxes rule moves the tile predicate below the
    * operator (and on into the scan), so this exercises the optimizer rule
    * inside the correctness gate, not just in a plan-string spec. */
  private val a8dMergeFiltered: Q = (spark, dir) => {
    val merged = graft.plans.MergeBoxesApi.mergeBoxes(TankInventory.boxes(spark, dir))
    merged.filter(col("key").isin("1", "2", "3"))
      .withColumn("chip_names", array_join(col("chip_names"), ","))
      .orderBy("key", "cluster_id")
  }

  private val a8dMergeFilteredSql =
    s"""WITH RECURSIVE $e1CoreSql
       |SELECT key, cluster_id, minx, miny, maxx, maxy, n_boxes, object_class, merged,
       |  chip_names
       |FROM clusters WHERE key IN ('1', '2', '3')
       |ORDER BY key, cluster_id""".stripMargin

  /** The final inventory projection replays the WGS84 centroid through the
    * portable kernel's rendered SQL (bit-identical to the Spark UDF), so
    * lat/lon and the geo_ok range check are value-compared, not assumed. */
  private val e1InventorySql = {
    val georefed = graft.functions.GeoPortable.inverseSql(
      "SELECT * FROM assigned WHERE rn = 1",
      "(ex1 + ex2) / 2.0", "(ey1 + ey2) / 2.0", "16")
    s"""WITH RECURSIVE $e1CoreSql
       |SELECT tile_id, cluster_id, minx, miny, maxx, maxy, n_boxes, object_class, merged,
       |  chip_names,
       |  round((ex1 + ex2) / 2.0, 2) AS cx_utm,
       |  round((ey1 + ey2) / 2.0, 2) AS cy_utm,
       |  round(least(maxx - minx, maxy - miny) * CAST(0.6 AS DOUBLE), 2) AS diameter_m,
       |  g_lat AS lat, g_lon AS lon,
       |  county_key, state_key, round(overlap_m2, 2) AS overlap_m2,
       |  (g_lat BETWEEN 30.0 AND 36.0) AND (g_lon BETWEEN -91.0 AND -85.0) AS geo_ok
       |FROM ($georefed)
       |ORDER BY tile_id, cluster_id""".stripMargin
  }

  private val e3InventoryCrosstab: Q = (spark, dir) =>
    TankInventory.crosstab(spark, dir)
  private val e3bStateCrosstab: Q = (spark, dir) =>
    TankInventory.crosstab(spark, dir, dim = "state_key")
  private val e3cCountyPct: Q = (spark, dir) =>
    TankInventory.crosstab(spark, dir, dim = "county_key", percent = true)
  private val e3dStatePct: Q = (spark, dir) =>
    TankInventory.crosstab(spark, dir, dim = "state_key", percent = true)

  /** E3e — the write-once-read-four report lifecycle: persist the E1
    * inventory to Parquet ONCE, then derive all four distribution reports
    * from the persisted table (the reference's `write_gdf` →
    * `distribution_by_county_state.py:27` read). The e3/e3b/e3c/e3d gate
    * queries each rebuild E1 because gate queries must be self-contained;
    * this is the lifecycle a production run uses instead — the expensive
    * pipeline runs once, and the four reports are one aggregation of its
    * output ([[TankInventory.reports]]). Every cell is a double so count
    * and percent reports share one tagged frame (counts are integers,
    * exact in double). */
  private val e3ePersistedCrosstabs: Q = (spark, dir) => {
    val path = Sinks.scratchDir("e3e_inventory")
    val built = TankInventory.inventory(spark, dir)
    built.write.mode("overwrite").parquet(path)
    // the schema just written: the read starts no inference job; the
    // reports come sorted by (report, dim_key)
    TankInventory.reports(spark.read.schema(built.schema).parquet(path))
  }

  private val e3ePersistedCrosstabsSql = {
    val classes = TankInventory.Classes
    val cells = classes.map(c =>
      s"count(CASE WHEN object_class = '$c' THEN 1 END) AS $c").mkString(",\n       |    ")
    def base(dim: String) =
      s"""(SELECT $dim AS dim_key,
         |    $cells,
         |    count(*) AS total
         |  FROM inv GROUP BY 1)""".stripMargin
    val margins = (classes.map(c => s"CAST(sum($c) AS BIGINT) AS $c") :+
      "CAST(sum(total) AS BIGINT) AS total").mkString(", ")
    val dblCols = (classes :+ "total").map(c => s"CAST($c AS DOUBLE) AS $c").mkString(", ")
    val pctCols = (classes :+ "total").map(c => s"a.$c / g.g AS $c").mkString(", ")
    s"""WITH RECURSIVE $e1CoreSql,
       |inv AS (SELECT county_key, state_key, object_class FROM assigned WHERE rn = 1),
       |base_county AS ${base("county_key")},
       |base_state AS ${base("state_key")},
       |allc AS (SELECT * FROM base_county
       |  UNION ALL SELECT -1 AS dim_key, $margins FROM base_county),
       |alls AS (SELECT * FROM base_state
       |  UNION ALL SELECT -1 AS dim_key, $margins FROM base_state),
       |grand AS (SELECT CAST(sum(total) AS BIGINT) AS g FROM base_county)
       |SELECT 'county_count' AS report, dim_key, $dblCols FROM allc
       |UNION ALL SELECT 'state_count' AS report, dim_key, $dblCols FROM alls
       |UNION ALL SELECT 'county_pct' AS report, a.dim_key, $pctCols FROM allc a, grand g
       |UNION ALL SELECT 'state_pct' AS report, a.dim_key, $pctCols FROM alls a, grand g
       |ORDER BY report, dim_key""".stripMargin
  }

  /** The reference's four distribution reports: {state, county} x class,
    * count and percent-of-grand-total, margins included
    * (`distribution_by_county_state.py:32-41`; pandas normalize=True
    * divides every cell — margins too — by the grand total). Percent cells
    * are unrounded long/long quotients: both engines evaluate the identical
    * IEEE division, so the hash compare is exact. */
  private def crosstabSql(dim: String, percent: Boolean): String = {
    val classes = graft.pipeline.TankInventory.Classes
    val cells = classes.map(c =>
      s"count(CASE WHEN object_class = '$c' THEN 1 END) AS $c").mkString(",\n       |    ")
    val margins = (classes.map(c => s"CAST(sum($c) AS BIGINT) AS $c") :+
      "CAST(sum(total) AS BIGINT) AS total").mkString(",\n       |    ")
    val finalSel =
      if (!percent) "SELECT * FROM allrows"
      else {
        val pct = (classes :+ "total").map(c => s"allrows.$c / g.g AS $c").mkString(",\n       |  ")
        s"""SELECT allrows.$dim, $pct
           |FROM allrows, (SELECT CAST(sum(total) AS BIGINT) AS g FROM base) g""".stripMargin
      }
    s"""WITH RECURSIVE $e1CoreSql,
       |inv AS (SELECT county_key, state_key, object_class FROM assigned WHERE rn = 1),
       |base AS (
       |  SELECT $dim,
       |    $cells,
       |    count(*) AS total
       |  FROM inv GROUP BY 1),
       |marg AS (
       |  SELECT -1 AS $dim,
       |    $margins
       |  FROM base),
       |allrows AS (SELECT * FROM base UNION ALL SELECT * FROM marg)
       |$finalSel
       |ORDER BY total DESC, $dim""".stripMargin
  }

  // ------------------------------------------------------------------ CSV round trip
  private val ioCsvRoundtrip: Q = (spark, dir) => {
    val path = Sinks.scratchDir("csv_orders")
    Sinks.writeCsv(
      Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus", "o_totalprice"), path)
    Sinks.readCsv(spark, path)
      .select(col("o_orderkey").cast("long"), col("o_orderstatus"),
        round(col("o_totalprice").cast("double"), 2).as("o_totalprice"))
      .orderBy("o_orderkey")
  }

  private val ioCsvRoundtripSql =
    """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------------ ORC round trip
  /** Columnar-format coverage beyond parquet: ORC is Spark-native (same
    * vectorized reader / predicate-pushdown machinery), so a lakehouse user
    * with ORC state on-ramps directly. DuckDB cannot read ORC — the oracle
    * replays the projection from the source table, which the written-then-
    * rescanned data must reproduce exactly. */
  private val ioOrcRoundtrip: Q = (spark, dir) => {
    val path = Sinks.scratchDir("orc_lineitem")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .write.mode("overwrite").orc(path)
    spark.read.orc(path)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  private val ioOrcRoundtripSql =
    """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------ partitioned layout + pruning
  /** Hive-style partitioned table lifecycle: the corpus written
    * `partitionBy(lang)` (the layout a 100 TB curation store actually
    * uses — per-language directories so language-scoped jobs touch only
    * their slice), then read back with a partition predicate AND a data
    * predicate. The lang filter must prune at the DIRECTORY level (3 of 5
    * partitions never open a file) and the n_chars filter must push into
    * the parquet row-group scan — both pinned by `PartitionPruneSpec`;
    * this query pins the numbers. */
  private val ioPartitionedPrune: Q = (spark, dir) => {
    val path = Sinks.scratchDir("partitioned_documents")
    val docs = Tables.documents(spark, dir)
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    // the schema the writer laid out: data columns, then the partition
    // column — declared, so the read starts no inference job
    spark.read.schema(StructType(docs.schema.filterNot(_.name == "lang") :+ docs.schema("lang")))
      .parquet(path)
      .filter(col("lang").isin("en", "zh") && col("n_chars") > 100)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("lang", "source")
  }

  private val ioPartitionedPruneSql =
    """SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE lang IN ('en', 'zh') AND n_chars > 100
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------ JSON round trip
  private val ioJsonRoundtrip: Q = (spark, dir) => {
    val path = Sinks.scratchDir("json_customer")
    Sinks.writeJsonLines(
      Tables.customer(spark, dir).select("c_custkey", "c_name", "c_acctbal"), path)
    Sinks.readJsonLines(spark, path)
      .select(col("c_custkey").cast("long"), col("c_name"),
        round(col("c_acctbal").cast("double"), 2).as("c_acctbal"))
      .orderBy("c_custkey")
  }

  private val ioJsonRoundtripSql =
    """SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------------ GeoJSON rendering
  private val ioGeojsonRender: Q = (spark, dir) => {
    val k = Tables.nation(spark, dir).select(
      col("n_nationkey").as("county_key"),
      (col("n_nationkey") % 5 * 200).as("x1"),
      (floor(col("n_nationkey") / 5) * 160).cast("long").as("y1"))
      .withColumn("x2", col("x1") + 200)
      .withColumn("y2", col("y1") + 160)
    k.select(col("county_key"),
        Sinks.geoJsonFeature(struct(col("county_key")),
          col("x1"), col("y1"), col("x2"), col("y2")).as("geojson"))
      .orderBy("county_key")
  }

  private val ioGeojsonRenderSql =
    """SELECT n_nationkey AS county_key,
      |  concat('{"type":"Feature","properties":{"county_key":', n_nationkey,
      |    '},"geometry":{"type":"Polygon","coordinates":[[[',
      |    n_nationkey % 5 * 200, ',', CAST(floor(n_nationkey / 5) * 160 AS BIGINT), '],[',
      |    n_nationkey % 5 * 200 + 200, ',', CAST(floor(n_nationkey / 5) * 160 AS BIGINT), '],[',
      |    n_nationkey % 5 * 200 + 200, ',', CAST(floor(n_nationkey / 5) * 160 + 160 AS BIGINT), '],[',
      |    n_nationkey % 5 * 200, ',', CAST(floor(n_nationkey / 5) * 160 + 160 AS BIGINT), '],[',
      |    n_nationkey % 5 * 200, ',', CAST(floor(n_nationkey / 5) * 160 AS BIGINT),
      |    ']]]}}') AS geojson
      |FROM nation ORDER BY county_key""".stripMargin

  // ------------------------------------------------------------------ GeoJSON parse (S4)
  /** Round-trips the rendered Feature strings back through from_json with
    * an explicit schema and re-extracts properties + ring corners — the
    * read side of the GeoJSON surface (`gpd.read_file` in
    * `distribution_by_county_state.py:27`), schema-on-read, no inference. */
  private val ioGeojsonParse: Q = (spark, dir) => {
    val k = Tables.nation(spark, dir).select(
      col("n_nationkey").as("county_key"),
      (col("n_nationkey") % 5 * 200).as("x1"),
      (floor(col("n_nationkey") / 5) * 160).cast("long").as("y1"))
      .withColumn("x2", col("x1") + 200)
      .withColumn("y2", col("y1") + 160)
    val rendered = k.select(Sinks.geoJsonFeature(struct(col("county_key")),
      col("x1"), col("y1"), col("x2"), col("y2")).as("geojson"))
    val schema = "STRUCT<type: STRING, properties: STRUCT<county_key: INT>, " +
      "geometry: STRUCT<type: STRING, coordinates: ARRAY<ARRAY<ARRAY<DOUBLE>>>>>"
    rendered.select(
      from_json(col("geojson"), org.apache.spark.sql.types.DataType.fromDDL(schema)
        .asInstanceOf[org.apache.spark.sql.types.StructType]).as("f"))
      .select(
        col("f.properties.county_key").as("county_key"),
        col("f.geometry.type").as("geom_type"),
        element_at(element_at(col("f.geometry.coordinates"), 1), 1)(0).as("minx"),
        element_at(element_at(col("f.geometry.coordinates"), 1), 1)(1).as("miny"),
        element_at(element_at(col("f.geometry.coordinates"), 1), 3)(0).as("maxx"),
        element_at(element_at(col("f.geometry.coordinates"), 1), 3)(1).as("maxy"))
      .orderBy("county_key")
  }

  private val ioGeojsonParseSql =
    """SELECT n_nationkey AS county_key,
      |  'Polygon' AS geom_type,
      |  CAST(n_nationkey % 5 * 200 AS DOUBLE) AS minx,
      |  CAST((n_nationkey // 5) * 160 AS DOUBLE) AS miny,
      |  CAST(n_nationkey % 5 * 200 + 200 AS DOUBLE) AS maxx,
      |  CAST((n_nationkey // 5) * 160 + 160 AS DOUBLE) AS maxy
      |FROM nation ORDER BY county_key""".stripMargin

  // ------------------------------------------------------------------ binary directory scan
  /** Writes a deterministic VOC-XML fixture tree (plus junk files that the
    * glob must prune), scans it via binaryFile, parses, and aggregates. */
  private val ioBinaryScan: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("voc_tree"))
    Files.createDirectories(root)
    val nations = Tables.nation(spark, dir).select("n_nationkey").collect().map(_.getInt(0))
    nations.foreach { n =>
      val objs = (0 to n % 3).map { i =>
        VocXml.VocObject("water_tower", 0, 0, (n * 7 + i * 13) % 100, 10, 100, 110)
      }
      Files.write(root.resolve(s"tile_$n.xml"),
        VocXml.renderVocString(s"tile_$n.jpg", 512, 512, objs)
          .getBytes(StandardCharsets.UTF_8))
    }
    Files.write(root.resolve("Thumbs.db"), Array[Byte](1, 2, 3))
    Sinks.scanBinaryDir(spark, root.toString, "*.xml")
      .select(element_at(split(col("path"), "/"), -1).as("file_name"),
        VocXml.parseVoc(col("content").cast("string")).as("objs"))
      .select(col("file_name"), explode(col("objs")).as("o"))
      .groupBy("file_name")
      .agg(count(lit(1)).as("n_objects"), sum(col("o.xmin")).as("sum_xmin"))
      .orderBy("file_name")
  }

  private val ioBinaryScanSql =
    """SELECT concat('tile_', n_nationkey, '.xml') AS file_name,
      |  CAST(n_nationkey % 3 + 1 AS BIGINT) AS n_objects,
      |  CAST((SELECT sum((n_nationkey * 7 + i.i * 13) % 100)
      |        FROM generate_series(0, 2) i(i) WHERE i.i <= n_nationkey % 3) AS BIGINT) AS sum_xmin
      |FROM nation ORDER BY file_name""".stripMargin

  // ------------------------------------------------------------------ S2: .npy one-time converter
  /** Legacy-state on-ramp (`src/az_proc.py:414-438`): three `.npy` arrays
    * (string / int64 / float64) written with the pure-JVM renderer, scanned
    * back distributed, and value-checked against the corpus. */
  private val ioNpyRoundtrip: Q = (spark, dir) => {
    import graft.sources.Npy
    val root = Paths.get(Sinks.scratchDir("npy_state"))
    Files.createDirectories(root)
    val keys = Tables.nation(spark, dir).select("n_nationkey")
      .collect().map(_.getInt(0)).sorted
    Files.write(root.resolve("tiles.npy"),
      Npy.render(Npy.StrArr(keys.map(n => s"tile_$n").toSeq)))
    Files.write(root.resolve("counts.npy"),
      Npy.render(Npy.LongArr(keys.map(n => n.toLong * 7).toSeq)))
    Files.write(root.resolve("scores.npy"),
      Npy.render(Npy.DoubleArr(keys.map(n => n * 0.25).toSeq)))
    Npy.scanNpyDir(spark, root.toString)
      .orderBy("file_name", "idx")
  }

  private val ioNpyRoundtripSql =
    """WITH ks AS (
      |  SELECT n_nationkey AS n,
      |    CAST(row_number() OVER (ORDER BY n_nationkey) - 1 AS INTEGER) AS idx
      |  FROM nation)
      |SELECT * FROM (
      |  SELECT 'tiles.npy' AS file_name, idx, 'tile_' || CAST(n AS VARCHAR) AS value_str,
      |    CAST(NULL AS DOUBLE) AS value_num FROM ks
      |  UNION ALL
      |  SELECT 'counts.npy', idx, CAST(n * 7 AS VARCHAR), CAST(n * 7 AS DOUBLE) FROM ks
      |  UNION ALL
      |  SELECT 'scores.npy', idx, CAST(n * CAST(0.25 AS DOUBLE) AS VARCHAR), n * CAST(0.25 AS DOUBLE) FROM ks)
      |ORDER BY file_name, idx""".stripMargin

  // ------------------------------------------------------------------ S3: zipped shapefile scan
  /** Legacy-geometry on-ramp (`src/form_calcs.py:40-51`): the county layer
    * as a real zipped ESRI shapefile (.shp polygons + .dbf attributes),
    * parsed back distributed with WKT + attribute alignment checked. */
  private val ioShapefileZip: Q = (spark, dir) => {
    import graft.sources.Shapefile
    val root = Paths.get(Sinks.scratchDir("shp_zip"))
    Files.createDirectories(root)
    val keys = Tables.nation(spark, dir).select("n_nationkey")
      .collect().map(_.getInt(0)).sorted
    val rects = keys.map { n =>
      val x1 = (n % 5) * 200.0; val y1 = math.floor(n / 5.0) * 160.0
      (x1, y1, x1 + 200.0, y1 + 160.0)
    }.toSeq
    val zip = Shapefile.renderZip(Seq(
      "counties.shp" -> Shapefile.renderRectShp(rects),
      "counties.dbf" -> Shapefile.renderDbf("NAME", 12, keys.map(n => s"county_$n").toSeq)))
    Files.write(root.resolve("counties.zip"), zip)
    Shapefile.scanZippedShapefiles(spark, root.toString)
      .select(col("zip_name"), col("record_number"), col("shape_type"),
        col("minx"), col("miny"), col("maxx"), col("maxy"),
        col("attrs")("NAME").as("county_name"), col("wkt"))
      .orderBy("record_number")
  }

  private val ioShapefileZipSql =
    """WITH k AS (
      |  SELECT n_nationkey AS n,
      |    CAST((n_nationkey % 5) * 200 AS DOUBLE) AS x1,
      |    CAST((n_nationkey // 5) * 160 AS DOUBLE) AS y1
      |  FROM nation)
      |SELECT 'counties.zip' AS zip_name,
      |  CAST(row_number() OVER (ORDER BY n) AS INTEGER) AS record_number,
      |  5 AS shape_type,
      |  x1 AS minx, y1 AS miny, x1 + 200 AS maxx, y1 + 160 AS maxy,
      |  'county_' || CAST(n AS VARCHAR) AS county_name,
      |  'POLYGON ((' ||
      |    CAST(CAST(x1 AS BIGINT) AS VARCHAR) || ' ' || CAST(CAST(y1 + 160 AS BIGINT) AS VARCHAR) || ', ' ||
      |    CAST(CAST(x1 + 200 AS BIGINT) AS VARCHAR) || ' ' || CAST(CAST(y1 + 160 AS BIGINT) AS VARCHAR) || ', ' ||
      |    CAST(CAST(x1 + 200 AS BIGINT) AS VARCHAR) || ' ' || CAST(CAST(y1 AS BIGINT) AS VARCHAR) || ', ' ||
      |    CAST(CAST(x1 AS BIGINT) AS VARCHAR) || ' ' || CAST(CAST(y1 AS BIGINT) AS VARCHAR) || ', ' ||
      |    CAST(CAST(x1 AS BIGINT) AS VARCHAR) || ' ' || CAST(CAST(y1 + 160 AS BIGINT) AS VARCHAR) ||
      |  '))' AS wkt
      |FROM k ORDER BY record_number""".stripMargin

  // ------------------------------------------------------------------ S3b: real-world-shaped county layer
  /** The S3 on-ramp against the attribute quirks a REAL counties download
    * carries (`form_calcs.py:40-51` fidelity; VERDICT r4 Missing #2):
    * NULL SHAPE records interleaved with polygons (record numbers stay
    * sequential, the .dbf row for a null shape is real — the reader must
    * align attributes by record number, not by surviving-geometry
    * position), non-ASCII text in TWO encodings of the same layer
    * (Latin-1/Windows-ANSI declared by the .dbf language driver byte vs
    * UTF-8 declared by a `.cpg` sidecar — `Doña Ana`-style names must
    * decode identically from both), and a right-justified numeric (N)
    * field beside character fields. Both zips must parse to the same
    * logical rows. */
  private val s3RealworldCounties: Q = (spark, dir) => {
    import graft.sources.Shapefile
    val root = Paths.get(Sinks.scratchDir("shp_realworld"))
    Files.createDirectories(root)
    val ks = Tables.nation(spark, dir).select("n_nationkey", "n_name")
      .collect().map(r => (r.getInt(0), r.getString(1).trim)).sortBy(_._1).toSeq
    val shapes = ks.map { case (n, _) =>
      if (n % 7 == 0) None
      else {
        val x1 = (n % 5) * 200.0; val y1 = math.floor(n / 5.0) * 160.0
        Some((x1, y1, x1 + 200.0, y1 + 160.0))
      }
    }
    val rows = ks.map { case (n, nm) =>
      Seq(nm + (if (n % 5 == 0) " ñ" else ""), f"$n%03d", (n * 1234567L + 89).toString)
    }
    val fields = Seq(("NAME", 'C', 24), ("COUNTYFP", 'C', 3), ("ALAND", 'N', 12))
    val shp = Shapefile.renderMixedShp(shapes)
    Files.write(root.resolve("latin1_counties.zip"), Shapefile.renderZip(Seq(
      "counties.shp" -> shp,
      "counties.dbf" -> Shapefile.renderDbfTyped(fields, rows,
        java.nio.charset.Charset.forName("windows-1252"), languageDriver = 0x57))))
    Files.write(root.resolve("utf8_counties.zip"), Shapefile.renderZip(Seq(
      "counties.shp" -> shp,
      "counties.cpg" -> "UTF-8".getBytes(java.nio.charset.StandardCharsets.US_ASCII),
      "counties.dbf" -> Shapefile.renderDbfTyped(fields, rows,
        java.nio.charset.StandardCharsets.UTF_8, languageDriver = 0))))
    Shapefile.scanZippedShapefiles(spark, root.toString)
      .select(col("zip_name"), col("record_number"), col("shape_type"),
        col("attrs")("NAME").as("county_name"),
        col("attrs")("COUNTYFP").as("countyfp"),
        col("attrs")("ALAND").cast("long").as("aland"),
        col("wkt").isNotNull.as("has_geom"))
      .orderBy("zip_name", "record_number")
  }

  private val s3RealworldCountiesSql =
    """WITH k AS (
      |  SELECT n_nationkey AS n, trim(n_name) AS nm,
      |    CAST(row_number() OVER (ORDER BY n_nationkey) AS INTEGER) AS rec
      |  FROM nation),
      |r AS (
      |  SELECT rec,
      |    CAST(CASE WHEN n % 7 = 0 THEN 0 ELSE 5 END AS INTEGER) AS shape_type,
      |    nm || CASE WHEN n % 5 = 0 THEN ' ñ' ELSE '' END AS county_name,
      |    lpad(CAST(n AS VARCHAR), 3, '0') AS countyfp,
      |    CAST(n * 1234567 + 89 AS BIGINT) AS aland,
      |    n % 7 <> 0 AS has_geom
      |  FROM k)
      |SELECT z.zip_name, rec AS record_number, shape_type,
      |  county_name, countyfp, aland, has_geom
      |FROM r, (VALUES ('latin1_counties.zip'), ('utf8_counties.zip')) z(zip_name)
      |ORDER BY zip_name, record_number""".stripMargin

  // ------------------------------------------------------------------ S13: shapefile sink + truncated-name report parity
  /** Writes the E1 inventory as zipped ESRI shapefiles (the reference's
    * output format, `write_gdf` in `src/form_calcs.py`), rescans the zips,
    * and replays the reference's county-by-class distribution report
    * against the 10-char TRUNCATED .dbf column names `object_cla` /
    * `county_fip` (`distribution_by_county_state.py:29-41`) — the exact
    * name mismatch a user replaying the reference's report would hit if
    * the sink didn't reproduce the format's truncation. The geometry
    * check (`sum_w` from the rescanned .shp envelopes) also proves
    * .shp/.dbf record alignment survives the round trip. */
  private val s13ShapefileSink: Q = (spark, dir) => {
    import graft.sources.Shapefile
    val root = Paths.get(Sinks.scratchDir("s13_shp_sink"))
    Sinks.deleteTree(root)
    val inv = TankInventory.inventory(spark, dir).select(
      col("minx").cast("double").as("minx"), col("miny").cast("double").as("miny"),
      col("maxx").cast("double").as("maxx"), col("maxy").cast("double").as("maxy"),
      col("object_class").cast("string").as("object_class"),
      col("county_key").cast("string").as("county_fips"),
      col("state_key").cast("string").as("state_fips"))
    Shapefile.writeZippedLayer(inv, root.toString,
      Seq(("object_class", 20), ("county_fips", 10), ("state_fips", 10)))
    val back = Shapefile.scanZippedShapefiles(spark, root.toString)
    val cells = TankInventory.Classes.map(c =>
      count(when(col("object_cla") === c, 1)).as(c))
    back.select(
        col("attrs")("object_cla").as("object_cla"),
        col("attrs")("county_fip").cast("int").as("county_fip"),
        (col("maxx") - col("minx")).cast("long").as("w"))
      .groupBy("county_fip")
      .agg(cells.head, (cells.tail :+ count(lit(1)).as("total") :+
        sum(col("w")).as("sum_w")): _*)
      .orderBy("county_fip")
  }

  private val s13ShapefileSinkSql = {
    val cells = TankInventory.Classes.map(c =>
      s"count(CASE WHEN object_class = '$c' THEN 1 END) AS $c").mkString(",\n       |  ")
    s"""WITH RECURSIVE $e1CoreSql,
       |inv AS (SELECT county_key, object_class, minx, maxx FROM assigned WHERE rn = 1)
       |SELECT county_key AS county_fip,
       |  $cells,
       |  count(*) AS total,
       |  CAST(sum(maxx - minx) AS BIGINT) AS sum_w
       |FROM inv GROUP BY 1 ORDER BY county_fip""".stripMargin
  }

  // ------------------------------------------------------------------ S9: memoized fetch round trip
  /** End-to-end S9 (`src/az_proc.py:194-221`): catalog -> anti-join against
    * the store -> partition-wise fetch THROUGH THE REAL HTTP TRANSPORT ->
    * idempotent re-run (must fetch 0) -> inventory of the store. The
    * transport is [[graft.io.Fetcher.httpGet]] against an in-process
    * loopback fixture server (plain JDK httpserver — no egress needed)
    * that serves each logical tile's deterministic payload bytes, so the
    * gate exercises connection handling, status checks and streaming reads
    * for real while the oracle stays byte-exact: stored size ==
    * length('payload:<logical url>'). If the loopback server cannot bind
    * (hardened sandbox), the gate falls back to the deterministic
    * [[graft.io.Fetcher.simulatedGet]] byte source with identical output. */
  private val s9FetchRoundtrip: Q = (spark, dir) => {
    import graft.io.Fetcher
    val store = Paths.get(Sinks.scratchDir("s9_store"))
    // reset so the listing reflects exactly this scale factor's catalog
    Sinks.deleteTree(store)
    // logical catalog: the url the reference pipeline would fetch; its
    // payload (and thus the oracle-pinned size) is a pure function of it
    val catalog = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 100 === 0)
      .select(
        concat(lit("img_"), col("o_orderkey"), lit(".bin")).as("file_name"),
        concat(lit("https://tiles.invalid/naip/"), col("o_orderkey")).as("url"))
    val hits = new java.util.concurrent.atomic.AtomicLong(0)
    val server =
      try {
        // TCP_NODELAY on accepted sockets: the server answers with two
        // small writes (headers, then body); with Nagle on, the body
        // segment waits for the header ACK and the client delays that ACK
        // ~40 ms — measured 44 ms/fetch (66 s for the sf0.1 catalog)
        // before this, sub-ms after
        System.setProperty("sun.net.httpserver.nodelay", "true")
        val s = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        // GET /naip/<key> serves simulatedGet("https://tiles.invalid/naip/<key>")
        s.createContext("/naip/", { exchange =>
          hits.incrementAndGet()
          val key = exchange.getRequestURI.getPath.stripPrefix("/naip/")
          val body = Fetcher.simulatedGet(s"https://tiles.invalid/naip/$key")
          exchange.sendResponseHeaders(200, body.length)
          exchange.getResponseBody.write(body)
          exchange.close()
        })
        // pooled dispatch: 32 executor threads fetch concurrently and the
        // default httpserver executor is single-threaded
        s.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(32))
        s.start()
        Some(s)
      } catch { case _: java.io.IOException => None }
    val (fetchCatalog, get) = server match {
      case Some(srv) =>
        val port = srv.getAddress.getPort
        // same rows, transport url pointed at the loopback fixture
        (catalog.withColumn("url",
            concat(lit(s"http://127.0.0.1:$port/naip/"),
              regexp_extract(col("url"), "([0-9]+)$", 1))),
          (u: String) => Fetcher.httpGet(u))
      case None => (catalog, (u: String) => Fetcher.simulatedGet(u))
    }
    try {
      val first =
        Fetcher.fetchMissing(spark, fetchCatalog, "file_name", "url", store.toString, get)
      val second =
        Fetcher.fetchMissing(spark, fetchCatalog, "file_name", "url", store.toString, get)
      // when the loopback fixture is up, every first-round fetch must have
      // gone through the REAL transport, and the memoized second round
      // must not have touched it at all
      server.foreach { _ =>
        require(hits.get() == first,
          s"expected $first real HTTP fetches, server saw ${hits.get()}")
      }
      Sinks.scanBinaryDir(spark, store.toString, "*.bin")
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          col("length").as("size"))
        .withColumn("second_run_new_files", lit(second))
        .orderBy("file_name")
    } finally server.foreach { s =>
      s.stop(0)
      s.getExecutor match {
        case e: java.util.concurrent.ExecutorService => e.shutdown()
        case _ => ()
      }
    }
  }

  private val s9FetchRoundtripSql =
    """SELECT 'img_' || CAST(o_orderkey AS VARCHAR) || '.bin' AS file_name,
      |  CAST(length('payload:https://tiles.invalid/naip/' || CAST(o_orderkey AS VARCHAR)) AS BIGINT) AS size,
      |  CAST(0 AS BIGINT) AS second_run_new_files
      |FROM orders WHERE o_orderkey % 100 = 0
      |ORDER BY file_name""".stripMargin

  // ------------------------------------------------------------------ S8: TIFF metadata scan
  /** Writes minimal valid TIFF headers (real byte-order/magic/IFD layout),
    * scans them via binaryFile, and parses width/height/bits/samples and
    * the GeoTIFF pixel scale with the pure-Scala header reader. */
  private val s8TiffMeta: Q = (spark, dir) => {
    import graft.sources.TiffMeta
    val root = Paths.get(Sinks.scratchDir("tiff_tree"))
    Files.createDirectories(root)
    val nations = Tables.nation(spark, dir).select("n_nationkey").collect().map(_.getInt(0))
    nations.foreach { n =>
      // two UTM zones in one corpus: the CRS must come from each blob's
      // GeoKeyDirectory, not an assumed constant (ref form_calcs.py:279-287)
      val bytes = TiffMeta.minimalTiff(
        width = 5000 + n * 613 % 3000, height = 6000 + n * 389 % 2600,
        bitsPerSample = 8, samplesPerPixel = if (n % 2 == 0) 3 else 4,
        pixelScaleX = 0.6, pixelScaleY = 0.6,
        epsg = if (n % 3 == 0) 32617 else 32616)
      Files.write(root.resolve(f"m_$n%05d.tif"), bytes)
    }
    Sinks.scanBinaryDir(spark, root.toString, "*.tif")
      .select(element_at(split(col("path"), "/"), -1).as("tile_file"),
        TiffMeta.parseTiff(col("content")).as("m"))
      .select(col("tile_file"),
        col("m.width").as("width"), col("m.height").as("height"),
        col("m.bitsPerSample").as("bits_per_sample"),
        col("m.samplesPerPixel").as("samples_per_pixel"),
        round(col("m.pixelScaleX"), 2).as("pixel_scale_x"),
        col("m.epsg").as("epsg"),
        concat(lit("EPSG:"), col("m.epsg")).as("utm_projection"),
        col("m.valid").as("valid"))
      .orderBy("tile_file")
  }

  private val s8TiffMetaSql =
    """SELECT concat('m_', lpad(CAST(n_nationkey AS VARCHAR), 5, '0'), '.tif') AS tile_file,
      |  CAST(5000 + n_nationkey * 613 % 3000 AS INTEGER) AS width,
      |  CAST(6000 + n_nationkey * 389 % 2600 AS INTEGER) AS height,
      |  CAST(8 AS INTEGER) AS bits_per_sample,
      |  CAST(CASE WHEN n_nationkey % 2 = 0 THEN 3 ELSE 4 END AS INTEGER) AS samples_per_pixel,
      |  CAST(0.6 AS DOUBLE) AS pixel_scale_x,
      |  CAST(CASE WHEN n_nationkey % 3 = 0 THEN 32617 ELSE 32616 END AS INTEGER) AS epsg,
      |  'EPSG:' || CAST(CASE WHEN n_nationkey % 3 = 0 THEN 32617 ELSE 32616 END AS VARCHAR) AS utm_projection,
      |  true AS valid
      |FROM nation ORDER BY tile_file""".stripMargin

  // ------------------------------------------------------------------ G1 pixel path: chip slicer over TIFF strips
  /** The pixel-level half of G1 (`az_proc.py:501-526`,
    * `form_calcs.py:166-191`): real uncompressed-TIFF strip reads sliced
    * into 512x512 zero-padded chips, executor-side, one tile per input row
    * (no shuffle until the final sort). Fixture pixels are
    * `p(x, y) = (x % 16) + (y % 16)`, so the DuckDB oracle verifies every
    * chip's pixel sum through the closed-form rectangle sum
    * S(n) = ((n+1)/16)*120 + r(r-1)/2 — the engine must read the actual
    * strip bytes to match it, wrong offsets/rows/padding all shift the
    * sum. Grid and pad columns replay the metadata-level `g1_chip_pad`
    * accounting at pixel fidelity. */
  private val g1ChipPixels: Q = (spark, dir) => {
    import spark.implicits._
    import graft.sources.TiffPixels
    val root = Paths.get(Sinks.scratchDir("tiff_pixels"))
    Files.createDirectories(root)
    val nations = Tables.nation(spark, dir).select("n_nationkey").collect().map(_.getInt(0))
    nations.foreach { n =>
      val w = 1000 + n * 97 % 600
      val h = 900 + n * 53 % 500
      writeFixture(root.resolve(f"t_$n%05d.tif"),
        TiffPixels.renderGray8(w, h, rowsPerStrip = 64, (x, y) => (x % 16) + (y % 16)))
    }
    Sinks.scanBinaryDir(spark, root.toString, "*.tif")
      .select(element_at(split(col("path"), "/"), -1).as("tile_file"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (name, bytes) =>
        TiffPixels.chips(bytes, 512).map { case (r, c, dw, dh, slab) =>
          var s = 0L
          var i = 0
          while (i < slab.length) { s += slab(i) & 0xff; i += 1 }
          (name, r, c, dw, dh, 512 - dw, 512 - dh, s)
        }
      }
      .toDF("tile_file", "chip_row", "chip_col", "chip_w", "chip_h",
        "pad_x", "pad_y", "pix_sum")
      .orderBy("tile_file", "chip_row", "chip_col")
  }

  // ------------------------------------------------------------------ G1 resize: 2x box-sum thumbnails
  /** The RESIZE step of the multimodal decode family: every decoded chip
    * is 2x-downsampled by box-SUM pooling (each thumbnail pixel = the sum
    * of its 2x2 source block, partial blocks at odd edges kept) — a real
    * pooled array is materialized per chip, executor-side, then reported
    * through two closed-form-checkable projections: the thumbnail total
    * (sum-pooling preserves mass, so it must equal the chip's closed-form
    * pixel sum — any dropped/duplicated block breaks it) and the
    * thumbnail first-ROW sum (ties the pooling geometry: exactly the
    * first two source scanlines — a wrong stride or y-offset breaks it
    * while leaving the total intact). Same fixtures and decode path as
    * `g1_chip_pixels`; payloads never shuffle. */
  private val g1ChipThumb: Q = (spark, dir) => {
    import spark.implicits._
    import graft.sources.TiffPixels
    val root = Paths.get(Sinks.scratchDir("tiff_pixels"))
    Files.createDirectories(root)
    val nations = Tables.nation(spark, dir).select("n_nationkey").collect().map(_.getInt(0))
    nations.foreach { n =>
      val w = 1000 + n * 97 % 600
      val h = 900 + n * 53 % 500
      writeFixture(root.resolve(f"t_$n%05d.tif"),
        TiffPixels.renderGray8(w, h, rowsPerStrip = 64, (x, y) => (x % 16) + (y % 16)))
    }
    Sinks.scanBinaryDir(spark, root.toString, "*.tif")
      .select(element_at(split(col("path"), "/"), -1).as("tile_file"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (name, bytes) =>
        TiffPixels.chips(bytes, 512).map { case (r, c, dw, dh, slab) =>
          val tw = (dw + 1) / 2
          val th = (dh + 1) / 2
          val thumb = new Array[Long](th * tw)
          var by = 0
          while (by < th) {
            var bx = 0
            while (bx < tw) {
              var s = 0L
              var y = by * 2
              val yEnd = math.min(by * 2 + 2, dh)
              while (y < yEnd) {
                var x = bx * 2
                val xEnd = math.min(bx * 2 + 2, dw)
                while (x < xEnd) { s += slab(y * 512 + x) & 0xff; x += 1 }
                y += 1
              }
              thumb(by * tw + bx) = s
              bx += 1
            }
            by += 1
          }
          var total = 0L
          var i = 0
          while (i < thumb.length) { total += thumb(i); i += 1 }
          var row0 = 0L
          var j = 0
          while (j < tw) { row0 += thumb(j); j += 1 }
          (name, r, c, tw, th, total, row0)
        }
      }
      .toDF("tile_file", "chip_row", "chip_col", "thumb_w", "thumb_h",
        "thumb_total", "thumb_row0")
      .orderBy("tile_file", "chip_row", "chip_col")
  }

  private val g1ChipThumbSql =
    """WITH t AS (
      |  SELECT n_nationkey AS n,
      |    1000 + n_nationkey * 97 % 600 AS w,
      |    900 + n_nationkey * 53 % 500 AS h
      |  FROM nation),
      |grid AS (
      |  SELECT n, w, h, CAST(r.i AS INTEGER) AS chip_row, CAST(c.i AS INTEGER) AS chip_col
      |  FROM t, generate_series(0, 7) r(i), generate_series(0, 7) c(i)
      |  WHERE r.i * 512 < h AND c.i * 512 < w),
      |dims AS (
      |  SELECT n, chip_row, chip_col,
      |    least(512, w - chip_col * 512) AS chip_w,
      |    least(512, h - chip_row * 512) AS chip_h,
      |    chip_col * 512 AS x0, chip_row * 512 AS y0
      |  FROM grid),
      |sums AS (
      |  SELECT *, x0 + chip_w - 1 AS x1, y0 + chip_h - 1 AS y1
      |  FROM dims)
      |SELECT concat('t_', lpad(CAST(n AS VARCHAR), 5, '0'), '.tif') AS tile_file,
      |  chip_row, chip_col,
      |  CAST((chip_w + 1) // 2 AS INTEGER) AS thumb_w,
      |  CAST((chip_h + 1) // 2 AS INTEGER) AS thumb_h,
      |  CAST(chip_h * (((x1 + 1) // 16) * 120 + ((x1 + 1) % 16) * ((x1 + 1) % 16 - 1) // 2 - (x0 // 16) * 120)
      |     + chip_w * (((y1 + 1) // 16) * 120 + ((y1 + 1) % 16) * ((y1 + 1) % 16 - 1) // 2 - (y0 // 16) * 120)
      |    AS BIGINT) AS thumb_total,
      |  CAST(least(2, chip_h) * (((x1 + 1) // 16) * 120 + ((x1 + 1) % 16) * ((x1 + 1) % 16 - 1) // 2 - (x0 // 16) * 120)
      |     + chip_w * (CASE WHEN chip_h >= 2 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS thumb_row0
      |FROM sums
      |ORDER BY tile_file, chip_row, chip_col""".stripMargin

  private val g1ChipPixelsSql =
    """WITH t AS (
      |  SELECT n_nationkey AS n,
      |    1000 + n_nationkey * 97 % 600 AS w,
      |    900 + n_nationkey * 53 % 500 AS h
      |  FROM nation),
      |grid AS (
      |  SELECT n, w, h, CAST(r.i AS INTEGER) AS chip_row, CAST(c.i AS INTEGER) AS chip_col
      |  FROM t, generate_series(0, 7) r(i), generate_series(0, 7) c(i)
      |  WHERE r.i * 512 < h AND c.i * 512 < w),
      |dims AS (
      |  SELECT n, chip_row, chip_col,
      |    least(512, w - chip_col * 512) AS chip_w,
      |    least(512, h - chip_row * 512) AS chip_h,
      |    chip_col * 512 AS x0, chip_row * 512 AS y0
      |  FROM grid),
      |sums AS (
      |  SELECT *, x0 + chip_w - 1 AS x1, y0 + chip_h - 1 AS y1
      |  FROM dims)
      |SELECT concat('t_', lpad(CAST(n AS VARCHAR), 5, '0'), '.tif') AS tile_file,
      |  chip_row, chip_col, chip_w, chip_h,
      |  512 - chip_w AS pad_x, 512 - chip_h AS pad_y,
      |  CAST(chip_h * (((x1 + 1) // 16) * 120 + ((x1 + 1) % 16) * ((x1 + 1) % 16 - 1) // 2 - (x0 // 16) * 120)
      |     + chip_w * (((y1 + 1) // 16) * 120 + ((y1 + 1) % 16) * ((y1 + 1) % 16 - 1) // 2 - (y0 // 16) * 120)
      |    AS BIGINT) AS pix_sum
      |FROM sums
      |ORDER BY tile_file, chip_row, chip_col""".stripMargin

  /** `g1_chip_pixels` over Deflate-compressed predictor-2 strips — the
    * layout real NAIP GeoTIFFs actually ship in (the reference reads them
    * through cv2/rioxarray, `az_proc.py:510`, `form_calcs.py:261-287`).
    * Same fixture pixels, same closed-form rectangle-sum oracle: a wrong
    * inflate length, predictor undo, or strip row count all shift the
    * per-chip sums. */
  private val g1ChipPixelsDeflate: Q = (spark, dir) => {
    import spark.implicits._
    import graft.sources.TiffPixels
    val root = Paths.get(Sinks.scratchDir("tiff_pixels_deflate"))
    Files.createDirectories(root)
    val nations = Tables.nation(spark, dir).select("n_nationkey").collect().map(_.getInt(0))
    nations.foreach { n =>
      val w = 1000 + n * 97 % 600
      val h = 900 + n * 53 % 500
      writeFixture(root.resolve(f"t_$n%05d.tif"),
        TiffPixels.renderGray8(w, h, rowsPerStrip = 64, (x, y) => (x % 16) + (y % 16),
          compression = TiffPixels.CompDeflate, predictor = 2))
    }
    Sinks.scanBinaryDir(spark, root.toString, "*.tif")
      .select(element_at(split(col("path"), "/"), -1).as("tile_file"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (name, bytes) =>
        TiffPixels.chips(bytes, 512).map { case (r, c, dw, dh, slab) =>
          var s = 0L
          var i = 0
          while (i < slab.length) { s += slab(i) & 0xff; i += 1 }
          (name, r, c, dw, dh, 512 - dw, 512 - dh, s)
        }
      }
      .toDF("tile_file", "chip_row", "chip_col", "chip_w", "chip_h",
        "pad_x", "pad_y", "pix_sum")
      .orderBy("tile_file", "chip_row", "chip_col")
  }

  /** `g1_chip_pixels` over LZW predictor-2 strips — LZW is the single
    * most common codec in archived GeoTIFF corpora (and what NAIP drops
    * historically shipped in), decoded by the pure-Scala TIFF 6.0 §13
    * LZW reader ([[graft.sources.TiffPixels.lzwDecode]], spec
    * early-change code widths). Same fixture pixels, same closed-form
    * rectangle-sum oracle: a wrong bit-unpack, width flip, KwKwK case,
    * or Clear reset all shift the per-chip sums. */
  private val g1ChipPixelsLzw: Q = (spark, dir) => {
    import spark.implicits._
    import graft.sources.TiffPixels
    val root = Paths.get(Sinks.scratchDir("tiff_pixels_lzw"))
    Files.createDirectories(root)
    val nations = Tables.nation(spark, dir).select("n_nationkey").collect().map(_.getInt(0))
    nations.foreach { n =>
      val w = 1000 + n * 97 % 600
      val h = 900 + n * 53 % 500
      writeFixture(root.resolve(f"t_$n%05d.tif"),
        TiffPixels.renderGray8(w, h, rowsPerStrip = 64, (x, y) => (x % 16) + (y % 16),
          compression = TiffPixels.CompLzw, predictor = 2))
    }
    Sinks.scanBinaryDir(spark, root.toString, "*.tif")
      .select(element_at(split(col("path"), "/"), -1).as("tile_file"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (name, bytes) =>
        TiffPixels.chips(bytes, 512).map { case (r, c, dw, dh, slab) =>
          var s = 0L
          var i = 0
          while (i < slab.length) { s += slab(i) & 0xff; i += 1 }
          (name, r, c, dw, dh, 512 - dw, 512 - dh, s)
        }
      }
      .toDF("tile_file", "chip_row", "chip_col", "chip_w", "chip_h",
        "pad_x", "pad_y", "pix_sum")
      .orderBy("tile_file", "chip_row", "chip_col")
  }

  // ------------------------------------------------------------------ G1 pixel path, RGB: 3-band chip slicer
  /** `g1_chip_pixels` at the reference's ACTUAL tile shape: NAIP tiles are
    * RGB (`az_proc.py:510` chips 3-band jpegs), so this slices
    * SamplesPerPixel=3 interleaved strips into 512x512x3 zero-padded
    * chips. Band fixtures R=(x%16)+(y%16), G=x%16, B=y%16 keep every
    * band's chip sum in the same closed rectangle form the gray oracle
    * already verifies (R's formula IS the gray one; G/H are its two
    * halves) — wrong interleaving, strip stride, or pad shows up as a
    * cross-band sum mismatch. Same narrow executor-side flatMap shape. */
  private val g1ChipPixelsRgb: Q = (spark, dir) => {
    import spark.implicits._
    import graft.sources.TiffPixels
    val root = Paths.get(Sinks.scratchDir("tiff_pixels_rgb"))
    Files.createDirectories(root)
    val nations = Tables.nation(spark, dir).select("n_nationkey").collect().map(_.getInt(0))
    nations.foreach { n =>
      val w = 1000 + n * 97 % 600
      val h = 900 + n * 53 % 500
      writeFixture(root.resolve(f"r_$n%05d.tif"),
        TiffPixels.renderRgb8(w, h, rowsPerStrip = 64,
          (x, y) => ((x % 16) + (y % 16), x % 16, y % 16)))
    }
    Sinks.scanBinaryDir(spark, root.toString, "*.tif")
      .select(element_at(split(col("path"), "/"), -1).as("tile_file"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (name, bytes) =>
        TiffPixels.chipsRgb(bytes, 512).map { case (r, c, dw, dh, slab) =>
          val s = new Array[Long](3)
          var i = 0
          while (i < slab.length) { s(i % 3) += slab(i) & 0xff; i += 1 }
          (name, r, c, dw, dh, s(0), s(1), s(2))
        }
      }
      .toDF("tile_file", "chip_row", "chip_col", "chip_w", "chip_h",
        "sum_r", "sum_g", "sum_b")
      .orderBy("tile_file", "chip_row", "chip_col")
  }

  private val g1ChipPixelsRgbSql =
    """WITH t AS (
      |  SELECT n_nationkey AS n,
      |    1000 + n_nationkey * 97 % 600 AS w,
      |    900 + n_nationkey * 53 % 500 AS h
      |  FROM nation),
      |grid AS (
      |  SELECT n, w, h, CAST(r.i AS INTEGER) AS chip_row, CAST(c.i AS INTEGER) AS chip_col
      |  FROM t, generate_series(0, 7) r(i), generate_series(0, 7) c(i)
      |  WHERE r.i * 512 < h AND c.i * 512 < w),
      |dims AS (
      |  SELECT n, chip_row, chip_col,
      |    least(512, w - chip_col * 512) AS chip_w,
      |    least(512, h - chip_row * 512) AS chip_h,
      |    chip_col * 512 AS x0, chip_row * 512 AS y0
      |  FROM grid),
      |f AS (
      |  SELECT *, x0 + chip_w - 1 AS x1, y0 + chip_h - 1 AS y1
      |  FROM dims),
      |bands AS (
      |  SELECT *,
      |    ((x1 + 1) // 16) * 120 + ((x1 + 1) % 16) * ((x1 + 1) % 16 - 1) // 2 - (x0 // 16) * 120 AS fx,
      |    ((y1 + 1) // 16) * 120 + ((y1 + 1) % 16) * ((y1 + 1) % 16 - 1) // 2 - (y0 // 16) * 120 AS fy
      |  FROM f)
      |SELECT concat('r_', lpad(CAST(n AS VARCHAR), 5, '0'), '.tif') AS tile_file,
      |  chip_row, chip_col, chip_w, chip_h,
      |  CAST(chip_h * fx + chip_w * fy AS BIGINT) AS sum_r,
      |  CAST(chip_h * fx AS BIGINT) AS sum_g,
      |  CAST(chip_w * fy AS BIGINT) AS sum_b
      |FROM bands
      |ORDER BY tile_file, chip_row, chip_col""".stripMargin

  // ------------------------------------------------------------------ G1 JPEG chip sink round trip
  /** The byte-real S14 chip sink (ref `az_proc.py:524` writes each chip as
    * a `.jpg`): gray chips JPEG-encode executor-side
    * ([[graft.multimodal.JpegCodec]], `javax.imageio`), land on disk
    * through [[Sinks.writeBinaryFiles]], rescan through the binaryFile
    * source, and decode back. Each output row hash-checks the chip grid
    * (names + dims from the closed form) plus a `round_trip_ok` verdict:
    * decoded dims must be exact and the mean absolute pixel error against
    * the fixture's closed-form pixels (zero-padded outside the data
    * window) must stay under 3/255 — JPEG is lossy, equality is the wrong
    * contract. A wrong strip offset, interleave, or pad would push MAE far
    * past the bound. */
  private val g1ChipJpeg: Q = (spark, dir) => {
    import spark.implicits._
    import graft.multimodal.JpegCodec
    import graft.sources.TiffPixels
    val root = Paths.get(Sinks.scratchDir("tiff_jpeg_src"))
    Files.createDirectories(root)
    val nations = Tables.nation(spark, dir).select("n_nationkey").collect().map(_.getInt(0))
    nations.foreach { n =>
      val w = 1000 + n * 97 % 600
      val h = 900 + n * 53 % 500
      writeFixture(root.resolve(f"j_$n%05d.tif"),
        TiffPixels.renderGray8(w, h, rowsPerStrip = 64, (x, y) => (x % 16) + (y % 16)))
    }
    val jpgDir = Sinks.scratchDir("tiff_jpeg_out")
    val encoded = Sinks.scanBinaryDir(spark, root.toString, "*.tif")
      .select(element_at(split(col("path"), "/"), -1).as("tile_file"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (name, bytes) =>
        TiffPixels.chips(bytes, 512).map { case (r, c, _, _, slab) =>
          (s"${name.stripSuffix(".tif")}_${r}_$c.jpg", JpegCodec.encodeGray(slab, 512, 512))
        }
      }.toDF("file_name", "payload")
    Sinks.writeBinaryFiles(encoded, jpgDir)
    Sinks.scanBinaryDir(spark, jpgDir, "*.jpg")
      .select(element_at(split(col("path"), "/"), -1).as("jpg_file"), col("content"))
      .as[(String, Array[Byte])]
      .map { case (jpg, bytes) =>
        val parts = jpg.stripSuffix(".jpg").split("_")
        val n = parts(1).toInt
        val r = parts(2).toInt
        val c = parts(3).toInt
        val w = 1000 + n * 97 % 600
        val h = 900 + n * 53 % 500
        val dw = math.min(512, w - c * 512)
        val dh = math.min(512, h - r * 512)
        val (jw, jh, bands, px) = JpegCodec.decode(bytes)
        var errSum = 0L
        if (jw == 512 && jh == 512 && bands == 1) {
          var y = 0
          while (y < 512) {
            var x = 0
            while (x < 512) {
              val expected =
                if (x < dw && y < dh) ((c * 512 + x) % 16) + ((r * 512 + y) % 16) else 0
              errSum += math.abs((px(y * 512 + x) & 0xff) - expected)
              x += 1
            }
            y += 1
          }
        }
        val ok = jw == 512 && jh == 512 && bands == 1 &&
          errSum.toDouble / (512 * 512) < 3.0
        (jpg, r, c, dw, dh, ok)
      }
      .toDF("jpg_file", "chip_row", "chip_col", "chip_w", "chip_h", "round_trip_ok")
      .orderBy("jpg_file")
  }

  private val g1ChipJpegSql =
    """WITH t AS (
      |  SELECT n_nationkey AS n,
      |    1000 + n_nationkey * 97 % 600 AS w,
      |    900 + n_nationkey * 53 % 500 AS h
      |  FROM nation),
      |grid AS (
      |  SELECT n, w, h, CAST(r.i AS INTEGER) AS chip_row, CAST(c.i AS INTEGER) AS chip_col
      |  FROM t, generate_series(0, 7) r(i), generate_series(0, 7) c(i)
      |  WHERE r.i * 512 < h AND c.i * 512 < w)
      |SELECT concat('j_', lpad(CAST(n AS VARCHAR), 5, '0'), '_',
      |    CAST(chip_row AS VARCHAR), '_', CAST(chip_col AS VARCHAR), '.jpg') AS jpg_file,
      |  chip_row, chip_col,
      |  least(512, w - chip_col * 512) AS chip_w,
      |  least(512, h - chip_row * 512) AS chip_h,
      |  true AS round_trip_ok
      |FROM grid
      |ORDER BY jpg_file""".stripMargin

  // ------------------------------------------------------------------ JTS spatial argmax
  /** The j8 rect argmax join, but through JTS WKT geometry (polygon ctor,
    * intersects, intersection area) — must agree exactly with the
    * closed-form arithmetic oracle. */
  private val j8WktArgmax: Q = (spark, dir) => {
    // this gate hand-builds its prefilter; if j8_naive_argmax left the
    // SpatialJoinRewrite rule installed on the shared session, opt out so
    // this plan stays the hand-optimized one whatever the suite order.
    // The rule reads the flag at OPTIMIZE time, so the pin must cover plan
    // materialization — the body eagerly localCheckpoints the (small,
    // one-row-per-tank) result inside the pinned window, and the finally
    // restores the session flag so no later consumer inherits it.
    val prior = spark.conf.getOption(graft.plans.SpatialJoinRewrite.EnabledKey)
    spark.conf.set(graft.plans.SpatialJoinRewrite.EnabledKey, "false")
    try {
    val tanks = Tables.customer(spark, dir).select(
      col("c_custkey"),
      (col("c_custkey") * 37 % 1000).cast("double").as("cx"),
      (col("c_custkey") * 91 % 800).cast("double").as("cy"))
      .withColumn("tx1", col("cx") - 30).withColumn("ty1", col("cy") - 30)
      .withColumn("tx2", col("cx") + 30).withColumn("ty2", col("cy") + 30)
      .withColumn("tank_wkt", SpatialOps.bboxToWkt(
        col("tx1"), col("ty1"), col("tx2"), col("ty2")))
    val counties = Tables.nation(spark, dir).select(
      col("n_nationkey").as("county_key"),
      (col("n_nationkey") % 5 * 200).cast("double").as("kx1"),
      (floor(col("n_nationkey") / 5) * 160).cast("double").as("ky1"))
      .withColumn("kx2", col("kx1") + 200)
      .withColumn("ky2", col("ky1") + 160)
      .withColumn("county_wkt", SpatialOps.bboxToWkt(
        col("kx1"), col("ky1"), col("kx2"), col("ky2")))
    // bbox prefilter in plain column arithmetic — the exact JTS predicate
    // and area only run on surviving candidate pairs (~1 per tank), which
    // keeps WKT parsing off the hot path
    val bboxHit =
      col("tx1") < col("kx2") && col("tx2") > col("kx1") &&
        col("ty1") < col("ky2") && col("ty2") > col("ky1")
    val joined = tanks.join(broadcast(counties), bboxHit)
      .filter(SpatialOps.intersectsOrContains(col("tank_wkt"), col("county_wkt")))
      .withColumn("overlap",
        SpatialOps.intersectionArea(col("tank_wkt"), col("county_wkt")))
      .filter(col("overlap") > 0)
    val w = Window.partitionBy("c_custkey").orderBy(col("overlap").desc, col("county_key"))
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("c_custkey"), col("county_key"), col("overlap").cast("long").as("overlap"))
      .orderBy("c_custkey")
      .localCheckpoint(eager = true)
    } finally {
      prior match {
        case Some(v) => spark.conf.set(graft.plans.SpatialJoinRewrite.EnabledKey, v)
        case None    => spark.conf.unset(graft.plans.SpatialJoinRewrite.EnabledKey)
      }
    }
  }

  /** The NAIVE user form of the j8 spatial argmax — `join(st_intersects)`
    * with no manual bbox prefilter and no broadcast hint — executed with
    * [[graft.plans.SpatialJoinRewrite]] installed (SURVEY §4.1). The rule
    * must produce the hand-optimized plan (envelope projections below the
    * join, interval-overlap conjunct ahead of the JTS predicate, broadcast
    * nested loop) and the result must hash-match the same closed-form
    * oracle as `j8_spatial_argmax`/`j8_wkt_argmax`. The gate REQUIREs the
    * rewrite actually fired, so a silently-uninstalled rule cannot pass as
    * brute force. */
  private val j8NaiveArgmax: Q = (spark, dir) => {
    import graft.plans.SpatialJoinRewrite
    if (!spark.experimental.extraOptimizations.contains(SpatialJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SpatialJoinRewrite
    val prior = spark.conf.getOption(SpatialJoinRewrite.EnabledKey)
    spark.conf.set(SpatialJoinRewrite.EnabledKey, "true")
    try {
    val tanks = Tables.customer(spark, dir).select(
      col("c_custkey"),
      (col("c_custkey") * 37 % 1000).cast("double").as("cx"),
      (col("c_custkey") * 91 % 800).cast("double").as("cy"))
      .withColumn("tank_wkt", SpatialOps.bboxToWkt(
        col("cx") - 30, col("cy") - 30, col("cx") + 30, col("cy") + 30))
      .select("c_custkey", "tank_wkt")
    val counties = Tables.nation(spark, dir).select(
      col("n_nationkey").as("county_key"),
      (col("n_nationkey") % 5 * 200).cast("double").as("kx1"),
      (floor(col("n_nationkey") / 5) * 160).cast("double").as("ky1"))
      .withColumn("county_wkt", SpatialOps.bboxToWkt(
        col("kx1"), col("ky1"), col("kx1") + 200, col("ky1") + 160))
      .select("county_key", "county_wkt")
    // what a user would write: predicate join, exact area, argmax — nothing
    // about broadcasting, envelopes, or candidate pruning
    val joined = tanks.join(counties,
        SpatialOps.intersectsOrContains(col("tank_wkt"), col("county_wkt")))
      .withColumn("overlap",
        SpatialOps.intersectionArea(col("tank_wkt"), col("county_wkt")))
      .filter(col("overlap") > 0)
    val w = Window.partitionBy("c_custkey").orderBy(col("overlap").desc, col("county_key"))
    val out = joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("c_custkey"), col("county_key"), col("overlap").cast("long").as("overlap"))
      .orderBy("c_custkey")
    require(SpatialJoinRewrite.rewritten(out.queryExecution.optimizedPlan),
      "SpatialJoinRewrite did not fire on the naive spatial join")
    // Materialize INSIDE the pinned window: the caller's terminal action
    // builds a fresh QueryExecution from the logical plan, so returning the
    // lazy frame would either time an unprefiltered JTS plan (flag since
    // restored — round 7 benched 3.8s that way) or force leaving the flag
    // set on the shared session (the round-8 leak). localCheckpoint runs
    // the rewritten physical plan here and hands back a LogicalRDD the
    // terminal action cannot re-optimize; the finally then restores the
    // session flag so no later gate inherits it.
    out.localCheckpoint(eager = true)
    } finally {
      prior match {
        case Some(v) => spark.conf.set(SpatialJoinRewrite.EnabledKey, v)
        case None    => spark.conf.unset(SpatialJoinRewrite.EnabledKey)
      }
    }
  }

  // ------------------------------------------------------------------ registry
  val queries: Map[String, Q] = Map(
    "j8_naive_argmax" -> j8NaiveArgmax,
    "e1_inventory" -> e1Inventory,
    "a8d_merge_filtered" -> a8dMergeFiltered,
    "e3_inventory_crosstab" -> e3InventoryCrosstab,
    "e3b_state_crosstab" -> e3bStateCrosstab,
    "e3c_county_pct" -> e3cCountyPct,
    "e3d_state_pct" -> e3dStatePct,
    "e3e_persisted_crosstabs" -> e3ePersistedCrosstabs,
    "io_csv_roundtrip" -> ioCsvRoundtrip,
    "io_orc_roundtrip" -> ioOrcRoundtrip,
    "io_partitioned_prune" -> ioPartitionedPrune,
    "io_json_roundtrip" -> ioJsonRoundtrip,
    "io_geojson_render" -> ioGeojsonRender,
    "io_geojson_parse" -> ioGeojsonParse,
    "io_binary_scan" -> ioBinaryScan,
    "s8_tiff_meta" -> s8TiffMeta,
    "s9_fetch_roundtrip" -> s9FetchRoundtrip,
    "io_npy_roundtrip" -> ioNpyRoundtrip,
    "io_shapefile_zip" -> ioShapefileZip,
    "s3_realworld_counties" -> s3RealworldCounties,
    "s13_shapefile_sink" -> s13ShapefileSink,
    "g1_chip_pixels" -> g1ChipPixels,
    "g1_chip_thumb" -> g1ChipThumb,
    "g1_chip_pixels_deflate" -> g1ChipPixelsDeflate,
    "g1_chip_pixels_lzw" -> g1ChipPixelsLzw,
    "g1_chip_pixels_rgb" -> g1ChipPixelsRgb,
    "g1_chip_jpeg" -> g1ChipJpeg,
    "j8_wkt_argmax" -> j8WktArgmax
  )

  val oracle: Map[String, String] = Map(
    "e1_inventory" -> e1InventorySql,
    "a8d_merge_filtered" -> a8dMergeFilteredSql,
    "e3_inventory_crosstab" -> crosstabSql("county_key", percent = false),
    "e3b_state_crosstab" -> crosstabSql("state_key", percent = false),
    "e3c_county_pct" -> crosstabSql("county_key", percent = true),
    "e3d_state_pct" -> crosstabSql("state_key", percent = true),
    "e3e_persisted_crosstabs" -> e3ePersistedCrosstabsSql,
    "io_csv_roundtrip" -> ioCsvRoundtripSql,
    "io_orc_roundtrip" -> ioOrcRoundtripSql,
    "io_partitioned_prune" -> ioPartitionedPruneSql,
    "io_json_roundtrip" -> ioJsonRoundtripSql,
    "io_geojson_render" -> ioGeojsonRenderSql,
    "io_geojson_parse" -> ioGeojsonParseSql,
    "io_binary_scan" -> ioBinaryScanSql,
    "s8_tiff_meta" -> s8TiffMetaSql,
    "s9_fetch_roundtrip" -> s9FetchRoundtripSql,
    "io_npy_roundtrip" -> ioNpyRoundtripSql,
    "io_shapefile_zip" -> ioShapefileZipSql,
    "s3_realworld_counties" -> s3RealworldCountiesSql,
    "s13_shapefile_sink" -> s13ShapefileSinkSql,
    "g1_chip_pixels" -> g1ChipPixelsSql,
    "g1_chip_thumb" -> g1ChipThumbSql,
    "g1_chip_pixels_deflate" -> g1ChipPixelsSql,
    "g1_chip_pixels_lzw" -> g1ChipPixelsSql,
    "g1_chip_pixels_rgb" -> g1ChipPixelsRgbSql,
    "g1_chip_jpeg" -> g1ChipJpegSql,
    "j8_wkt_argmax" -> RelationalQueries.j8ArgmaxOracleSql,
    "j8_naive_argmax" -> RelationalQueries.j8ArgmaxOracleSql
  )
}
