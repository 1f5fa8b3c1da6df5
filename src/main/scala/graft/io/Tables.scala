package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver corpus (TESTDATA.md) and engine-side sinks.
  *
  * The reference loads its catalogs from ad-hoc `.npy` arrays and CSV sheets
  * (ref `src/az_proc.py:414-438`, `:275`); the engine standardizes on columnar
  * Parquet with explicit schemas so scans are vectorized, column-pruned, and
  * predicate-pushed at any scale.
  */
object Tables {

  /** Load one corpus table from a scale-factor directory. Every read
    * declares the schema of one footer, read on the driver, so no read
    * starts Spark's inference job: a table that is one parquet file
    * declares its own ([[Footers.read]]); a table written as a directory
    * of part files (the scale probe's expanded corpora) declares the
    * schema of its first part file in path order, the file Spark's
    * inference reads when it does not merge schemas. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = Paths.get(s"$sfDir/$name.parquet")
    if (Files.isRegularFile(path)) Footers.read(spark, Seq(path.toString))
    else {
      // the data files Spark lists: names starting with `_` or `.` are
      // markers and checksums
      val parts = Sinks.listDir(path).filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
      }
      require(parts.nonEmpty, s"table $name: no data file in $path")
      spark.read.schema(Footers.schema(spark, parts.map(_.toString).min)).parquet(path.toString)
    }
  }

  def lineitem(spark: SparkSession, d: String): DataFrame   = table(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame     = table(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame   = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame   = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame       = table(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame     = table(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame     = table(spark, d, "region")
  /** Schema-adaptive events loader. Corpus generations differ in how `ts` is
    * written: early drops used TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects — read nanos as long via the legacy conf and convert with
    * *integer* division; double division would lose precision above 2^53 ns),
    * later drops use plain TIMESTAMP(MICROS) with isAdjustedToUTC=false, which
    * Spark surfaces as TIMESTAMP_NTZ. Branch on the type that actually scans
    * back so the loader works against any generation; NTZ is cast to session
    * timestamp (session TZ is pinned to UTC, so the cast is value-identical). */
  def events(spark: SparkSession, d: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(table(spark, d, "events"))
  }

  /** Normalize an events frame's `ts` to session TIMESTAMP whatever physical
    * form it scanned back as (see [[events]]). Also used by the streaming
    * file-source path, which must declare the raw scan schema up front. */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  def documents(spark: SparkSession, d: String): DataFrame  = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")

  /** Spread a CPU-heavy pipeline's input across the session's compute
    * parallelism when the scan under-splits. Parquet split sizing is
    * BYTES-based (`maxPartitionBytes`), and a split can never be finer
    * than a row group — so a small, highly-compressed table (text,
    * embeddings) lands in ONE scan task even though the per-row work
    * above it (explode / shingle / hash / distance loops) is thousands of
    * times the scan cost, serializing the whole stage on one core. When
    * the scan already yields >= defaultParallelism splits — any
    * cluster-scale table — this is a NO-OP: no exchange is added at
    * 100 TB. Locally it costs one exchange of the small input and buys
    * full-width execution of everything above it. Round-robin
    * repartition keeps Spark's sort-before-repartition determinism;
    * apply it only under order-insensitive consumers (aggregates, joins,
    * per-row maps — not written table layouts). */
  def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }
}
