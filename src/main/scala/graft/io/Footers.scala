package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
import org.apache.spark.sql.types.StructType

/** Driver-side parquet footer access. Every footer the engine opens goes
  * through [[open]] on one shared Hadoop configuration, and every engine
  * read of a parquet file it already knows declares the schema of one
  * footer ([[read]]) instead of letting Spark infer it — inference is a
  * Spark job (`mergeSchemasInParallel`) that reads that same footer on an
  * executor, paid on every read before the first action. */
object Footers {

  // One shared Hadoop conf for driver-side footer reads: `new
  // Configuration()` re-parses the XML defaults on EVERY call (~20 ms),
  // and a commit reads one footer per added file. Read-only use; parquet
  // never mutates it.
  private lazy val conf = new Configuration()

  /** Opens `p`'s footer (caller closes). Both the input file and the read
    * options are built on the shared conf — the one-argument
    * `ParquetFileReader.open(InputFile)` builds its options on a fresh
    * `Configuration`, re-parsing the defaults per file. Throws on a
    * missing or unreadable file. */
  def open(p: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(p, conf),
      HadoopReadOptions.builder(conf, p).build())

  /** The Spark schema of one parquet file, from its footer alone, through
    * Spark's own footer-to-schema conversion (so the session's parquet
    * confs — binaryAsString, int96AsTimestamp, inferTimestampNTZ,
    * nanosAsLong — apply exactly as in inference). Throws on a missing or
    * unreadable file: a read must fail loudly, never degrade. */
  def schema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val r = open(p)
    schemaOf(spark, p, try r.getFooter finally r.close())
  }

  /** [[schema]] of a footer the caller already read from `p`. */
  def schemaOf(spark: SparkSession, p: Path, footer: ParquetMetadata): StructType =
    GraftParquetShim.readSchema(Seq(new Footer(p, footer)), spark).getOrElse(
      sys.error(s"parquet file $p: footer yields no schema"))

  /** `spark.read.parquet(paths)` with the schema Spark would infer
    * declared up front: without `mergeSchema`, Spark's inference sorts the
    * leaf files by path and reads the FIRST one's footer — the same file
    * read here on the driver, with no Spark job. */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "Footers.read: empty path list")
    spark.read.schema(schema(spark, paths.min)).parquet(paths: _*)
  }
}
