package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.operators.Allocation

/** Workflow-state operators: multi-round allocation (E2), the annotator
  * tracker build (D2/J3), salted skew-safe aggregation, approximate
  * distinct counting, and chip zero-padding metadata. */
object WorkflowQueries {

  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------------------------ E2: multi-round allocation
  private val annotators = Seq("annotator_0", "annotator_1", "annotator_2", "annotator_3")

  private val e2AllocationRounds: Q = (spark, dir) => {
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_orderdate")
    Allocation.allocateRounds(spark, o,
        Seq("o_orderdate", "o_orderkey"), 100, annotators, rounds = 2)
      .select("o_orderkey", "round", "annotator")
      .orderBy("o_orderkey")
  }

  private val e2AllocationRoundsSql =
    """WITH ranked AS (
      |  SELECT o_orderkey,
      |    row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders)
      |SELECT o_orderkey,
      |  CAST(CASE WHEN rn <= 100 THEN 1 ELSE 2 END AS INTEGER) AS round,
      |  'annotator_' || CAST(CAST((rn - 1) % 4 AS INTEGER) AS VARCHAR) AS annotator
      |FROM ranked WHERE rn <= 200
      |ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------------ D2/J3: tracker build
  /** The 8-column annotator tracker (`src/az_proc.py:617-671,699-701`):
    * chip images zip-joined with their XMLs on the stem (a real equi-join,
    * not positional alignment), annotator from the allocation rank,
    * verifier columns blank until P9 fills them. */
  private val trackerBuild: Q = (spark, dir) => {
    val o = Tables.orders(spark, dir)
    val imgs = graft.operators.GlobalRank.withGlobalRowNumber(
      o.select(col("o_orderkey").as("stem"), col("o_orderstatus")),
      Seq(col("stem")), "rn")
    val xmls = o.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("stem"),
        concat(lit("xml/"), col("o_orderkey"), lit(".xml")).as("xml_annotation"))
    imgs.join(xmls, Seq("stem"), "left")
      .select(
        concat(lit("tile_"), (col("stem") % 1000).cast("string")).as("tile_name"),
        concat(lit("chip_"), col("stem")).as("chip_name"),
        concat(lit("img/"), col("stem"), lit(".jpg")).as("chip_pathway"),
        coalesce(col("xml_annotation"), lit("")).as("xml_annotation"),
        concat(lit("annotator_"), ((col("rn") - 1) % 4).cast("int")).as("annotator_draw"),
        lit("").as("annotator_verify_coverage"),
        lit("").as("annotator_verify_quality"),
        lit("").as("annotator_verify_classes"))
      .orderBy("chip_name")
  }

  private val trackerBuildSql =
    """WITH imgs AS (
      |  SELECT o_orderkey AS stem, o_orderstatus,
      |    row_number() OVER (ORDER BY o_orderkey) AS rn
      |  FROM orders),
      |xmls AS (
      |  SELECT o_orderkey AS stem,
      |    'xml/' || CAST(o_orderkey AS VARCHAR) || '.xml' AS xml_annotation
      |  FROM orders WHERE o_orderstatus = 'F')
      |SELECT
      |  'tile_' || CAST(i.stem % 1000 AS VARCHAR) AS tile_name,
      |  'chip_' || CAST(i.stem AS VARCHAR) AS chip_name,
      |  'img/' || CAST(i.stem AS VARCHAR) || '.jpg' AS chip_pathway,
      |  coalesce(x.xml_annotation, '') AS xml_annotation,
      |  'annotator_' || CAST(CAST((i.rn - 1) % 4 AS INTEGER) AS VARCHAR) AS annotator_draw,
      |  '' AS annotator_verify_coverage,
      |  '' AS annotator_verify_quality,
      |  '' AS annotator_verify_classes
      |FROM imgs i LEFT JOIN xmls x ON i.stem = x.stem
      |ORDER BY chip_name""".stripMargin

  // ------------------------------------------------------------------ P9: verifier null-update
  /** Verification allocation (`src/az_proc.py:709-758`, P9): blank verifier
    * columns are filled round-robin on allocation; already-assigned rows
    * keep their verifier (`when(length(c)===0, v).otherwise(c)`). */
  private val p9VerifierUpdate: Q = (spark, dir) => {
    val o = Tables.orders(spark, dir)
    val base = o.select(
      concat(lit("chip_"), col("o_orderkey")).as("chip_name"),
      // a third of rows arrive pre-assigned, the rest blank
      when(col("o_orderkey") % 3 === 0, concat(lit("verifier_pre_"), col("o_orderkey") % 2))
        .otherwise(lit("")).as("annotator_verify_coverage"))
    val ranked = graft.operators.GlobalRank.withGlobalRowNumber(
      base, Seq(col("chip_name")), "rn")
    ranked.select(col("chip_name"),
        when(length(col("annotator_verify_coverage")) === 0,
          concat(lit("verifier_"), ((col("rn") - 1) % 2).cast("int")))
          .otherwise(col("annotator_verify_coverage")).as("annotator_verify_coverage"))
      .orderBy("chip_name")
  }

  private val p9VerifierUpdateSql =
    """WITH base AS (
      |  SELECT 'chip_' || CAST(o_orderkey AS VARCHAR) AS chip_name,
      |    CASE WHEN o_orderkey % 3 = 0
      |         THEN 'verifier_pre_' || CAST(o_orderkey % 2 AS VARCHAR)
      |         ELSE '' END AS cov
      |  FROM orders),
      |ranked AS (
      |  SELECT *, row_number() OVER (ORDER BY chip_name) AS rn FROM base)
      |SELECT chip_name,
      |  CASE WHEN length(cov) = 0
      |       THEN 'verifier_' || CAST(CAST((rn - 1) % 2 AS INTEGER) AS VARCHAR)
      |       ELSE cov END AS annotator_verify_coverage
      |FROM ranked ORDER BY chip_name""".stripMargin

  // ------------------------------------------------------------------ skew-safe salted agg
  /** Two-phase aggregation with a deterministic salt: partial agg on
    * (key, salt) spreads a hot key over the cluster before the final
    * combine — same result as the direct agg (which the oracle computes). */
  private val a12SaltedAgg: Q = (spark, dir) => {
    val l = Tables.lineitem(spark, dir)
    l.withColumn("salt", (col("l_orderkey") % 8).cast("int"))
      .groupBy("l_returnflag", "salt")
      .agg(sum(col("l_extendedprice")).as("partial_sum"), count(lit(1)).as("partial_cnt"))
      .groupBy("l_returnflag")
      .agg(round(sum(col("partial_sum")), 2).as("sum_price"),
        sum(col("partial_cnt")).as("cnt"))
      .orderBy("l_returnflag")
  }

  private val a12SaltedAggSql =
    """SELECT l_returnflag, round(sum(l_extendedprice), 2) AS sum_price,
      |  count(*) AS cnt
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------ skew-safe salted join
  /** j12: the hot-key JOIN salt pattern (a12's sibling) — a fact table
    * where ~90% of rows share one key would put the whole hot key on one
    * task in a plain shuffle join; salting appends `hash(row) % N` to the
    * fact key and replicates each dim row across all N salt values, so
    * the hot key spreads over N tasks. The gate proves the transformation
    * is RESULT-INVARIANT: the oracle computes the plain unsalted join.
    * (With a broadcast-able dim Spark would avoid the problem outright;
    * salting is the pattern for when the dim must shuffle — AQE skew
    * handling automates the same idea, this is its explicit form.) */
  private val j12SaltedJoin: Q = (spark, dir) => {
    val Salts = 8
    val fact = Tables.lineitem(spark, dir).select(
      when(col("l_partkey") % 100 < 90, 1)
        .otherwise((col("l_partkey") % 100).cast("int")).as("join_key"),
      col("l_extendedprice"),
      (col("l_orderkey") % Salts).cast("int").as("salt"))
    val dim = Tables.nation(spark, dir).select(
      (col("n_nationkey") * 4 + 1).cast("int").as("join_key"),
      col("n_name").as("dim_name"))
    val saltedDim = dim
      .withColumn("salt", explode(sequence(lit(0), lit(Salts - 1))))
      .withColumn("salt", col("salt").cast("int"))
    fact.join(saltedDim, Seq("join_key", "salt"))
      .groupBy("join_key", "dim_name")
      .agg(count(lit(1)).as("n_rows"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("join_key")
  }

  private val j12SaltedJoinSql =
    """WITH fact AS (
      |  SELECT CASE WHEN l_partkey % 100 < 90 THEN 1
      |              ELSE CAST(l_partkey % 100 AS INTEGER) END AS join_key,
      |    l_extendedprice
      |  FROM lineitem),
      |dim AS (
      |  SELECT CAST(n_nationkey * 4 + 1 AS INTEGER) AS join_key, n_name AS dim_name
      |  FROM nation)
      |SELECT f.join_key, d.dim_name,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  round(sum(f.l_extendedprice), 2) AS sum_price
      |FROM fact f JOIN dim d ON d.join_key = f.join_key
      |GROUP BY 1, 2 ORDER BY f.join_key""".stripMargin

  // ------------------------------------------------------------------ approx distinct
  /** HyperLogLog++ distinct-count exposure: the approx value is engine
    * specific, so the oracle checks the exact count plus a 5% accuracy
    * invariant on the sketch. */
  private val a11ApproxDistinct: Q = (spark, dir) => {
    val o = Tables.orders(spark, dir)
    o.agg(
        countDistinct(col("o_custkey")).as("exact_customers"),
        approx_count_distinct(col("o_custkey"), 0.01).as("approx"))
      .select(col("exact_customers"),
        (abs(col("approx") - col("exact_customers")) <=
          col("exact_customers") * 0.05).as("approx_within_5pct"))
  }

  private val a11ApproxDistinctSql =
    """SELECT count(DISTINCT o_custkey) AS exact_customers,
      |  true AS approx_within_5pct
      |FROM orders""".stripMargin

  // ------------------------------------------------------------------ G1: chip zero-pad metadata
  /** Zero-pad amounts for edge chips (`src/form_calcs.py:166-191`): every
    * chip is materialized 512x512; edge chips record how much padding the
    * pixel path must add. */
  private val g1ChipPad: Q = (spark, dir) => {
    val t = Tables.nation(spark, dir).select(
      col("n_nationkey"),
      (lit(5000) + col("n_nationkey") * 613 % 3000).cast("int").as("tile_h"),
      (lit(6000) + col("n_nationkey") * 389 % 2600).cast("int").as("tile_w"))
      .withColumn("tile_name", concat(lit("tile_"), col("n_nationkey")))
    t.withColumn("row", explode(sequence(lit(0), ceil(col("tile_h") / lit(512.0)).cast("int") - 1)))
      .withColumn("col", explode(sequence(lit(0), ceil(col("tile_w") / lit(512.0)).cast("int") - 1)))
      .select(col("tile_name"), col("row"), col("col"),
        (((col("col") + 1) * 512) - least((col("col") + 1) * 512, col("tile_w"))).as("pad_right"),
        (((col("row") + 1) * 512) - least((col("row") + 1) * 512, col("tile_h"))).as("pad_bottom"))
      .filter(col("pad_right") > 0 || col("pad_bottom") > 0)
      .orderBy("tile_name", "row", "col")
  }

  private val g1ChipPadSql =
    """WITH t AS (
      |  SELECT 'tile_' || CAST(n_nationkey AS VARCHAR) AS tile_name,
      |    CAST(5000 + n_nationkey * 613 % 3000 AS INTEGER) AS tile_h,
      |    CAST(6000 + n_nationkey * 389 % 2600 AS INTEGER) AS tile_w
      |  FROM nation)
      |SELECT tile_name, CAST(r.r AS INTEGER) AS row, CAST(c.c AS INTEGER) AS col,
      |  CAST((c.c + 1) * 512 - least((c.c + 1) * 512, tile_w) AS INTEGER) AS pad_right,
      |  CAST((r.r + 1) * 512 - least((r.r + 1) * 512, tile_h) AS INTEGER) AS pad_bottom
      |FROM t, generate_series(0, 31) r(r), generate_series(0, 31) c(c)
      |WHERE r.r < CAST(ceil(tile_h / 512.0) AS INTEGER)
      |  AND c.c < CAST(ceil(tile_w / 512.0) AS INTEGER)
      |  AND ((c.c + 1) * 512 - least((c.c + 1) * 512, tile_w) > 0
      |    OR (r.r + 1) * 512 - least((r.r + 1) * 512, tile_h) > 0)
      |ORDER BY tile_name, row, col""".stripMargin

  // ------------------------------------------------------------------ registry
  val queries: Map[String, Q] = Map(
    "e2_allocation_rounds" -> e2AllocationRounds,
    "tracker_build" -> trackerBuild,
    "p9_verifier_update" -> p9VerifierUpdate,
    "a12_salted_agg" -> a12SaltedAgg,
    "j12_salted_join" -> j12SaltedJoin,
    "a11_approx_distinct" -> a11ApproxDistinct,
    "g1_chip_pad" -> g1ChipPad
  )

  val oracle: Map[String, String] = Map(
    "e2_allocation_rounds" -> e2AllocationRoundsSql,
    "tracker_build" -> trackerBuildSql,
    "p9_verifier_update" -> p9VerifierUpdateSql,
    "a12_salted_agg" -> a12SaltedAggSql,
    "j12_salted_join" -> j12SaltedJoinSql,
    "a11_approx_distinct" -> a11ApproxDistinctSql,
    "g1_chip_pad" -> g1ChipPadSql
  )
}
